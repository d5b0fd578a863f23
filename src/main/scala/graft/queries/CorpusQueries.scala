package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.{Curation, Dedup, Dsir, Pii, QualityRules, Scd, TextSearch}

/** Third tranche of training-data-pipeline operators: paragraph-level
  * exact dedup (q89), semantic dedup over embeddings (q90), BM25
  * full-text relevance search (q91), overlapping token-window chunking
  * (q92), and the sort-free deterministic epoch shuffle (q93).
  *
  * All but q90 are full hash oracles — the operators are deterministic
  * relational arithmetic DuckDB replicates exactly. q90 is rows-only
  * (k-means cell geometry is an engine detail) but guarantee-carrying
  * in the q31/q84 pattern: planted exact-copy embeddings MUST be
  * removed (same vector ⇒ same cell, cosine 1 ≥ eps, component min-id
  * survivor is the original), surfaced as an in-row `planted_removed`
  * count the spec asserts.
  */
object CorpusQueries {

  private val PlantedBase = 10000000L

  /** Paragraph-level corpus-wide dedup. The real documents are
    * single-paragraph rows (they carry the scale shape and any exact
    * full-text duplicates); multi-paragraph docs with known shared
    * paragraphs are planted in-query (q67 pattern) so the
    * paragraph-grain semantics — keep-first by (doc, position),
    * reassembly in original order, total output — can never go
    * vacuously green. */
  def q89ParagraphDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-3L, "common paragraph two\ncommon paragraph one\ntail text unique to minus three"),
      (-2L, "common paragraph one\nunique middle paragraph\ncommon paragraph two"),
      (-1L, "alpha beta gamma\ncommon paragraph one\nzeta eta theta"))
      .toDF("doc_id", "text")
    val all = Tables.documents(s, d).select(col("doc_id"), col("text")).unionByName(planted)
    Dedup.paragraphDedup(all)
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        length(col("text_dedup")).as("n_chars_dedup"),
        md5(col("text_dedup")).as("dedup_fp"))
      .orderBy("doc_id")
  }

  /** SemDeDup over the embeddings table: spherical k-means clusters,
    * within-cluster cosine pairs ≥ eps, min-id survivor per duplicate
    * component; output = the removed rows. k scales with the corpus
    * (n/200, floor 8) so cluster sizes — and with them the pair work —
    * stay bounded at any scale factor.
    *
    * FULL hash oracle since r12 (was the highest-value no_oracle): the
    * q100 precedent — all five Lloyd rounds unrolled as DuckDB CTEs —
    * applied to the flat path this query takes at every oracle-gated
    * scale (k = max(8, n/200) stays ≤ twoLevelFrom up to ~51 K rows;
    * the two-level path is spec- and ratio-audit-covered). tol = 0.0
    * pins the round count: the loop either runs all 5 rounds or stops
    * at an EXACT fixed point, where the remaining unrolled rounds are
    * identities — the q100 determinism discipline. Seeds restate via
    * the verified ⌊q·n⌋+1 rank rule (q43), assignment ties break
    * (cos DESC, cell DESC) = NearestCells' larger-id rule, and the
    * dedup threshold compares the 6-dp-rounded cosine on both sides. */
  def q90SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val planted = emb.filter(col("vec_id") < 4)
      .select((col("vec_id") + PlantedBase).as("vec_id"), col("embedding"))
    val all = emb.select("vec_id", "embedding").unionByName(planted)
    val k = math.max(8, (all.count() / 200).toInt)
    val removed = Dedup.semanticDedup(all, eps = 0.97, k = k, maxIter = 5, tol = 0.0)
      .withColumn("is_planted", (col("vec_id") >= PlantedBase).cast("int"))
    val g = removed.agg(sum("is_planted").as("planted_removed"))
    removed.crossJoin(broadcast(g))
      .select(col("vec_id"), col("survivor_id"), col("cell"),
        col("is_planted"), col("planted_removed"),
        col("capped_clusters"), col("capped_rows"))
      .orderBy("vec_id")
  }

  /** BM25 top-10 per query over the corpus, three fixed queries against
    * the synthetic vocabulary. Fully hash-checked: idf/tf saturation is
    * plain arithmetic and DuckDB replicates it term for term. */
  def q91Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qdf = Seq(
      (0L, "scan filter merge"),
      (1L, "hash join"),
      (2L, "stream window batch"))
      .toDF("query_id", "query_text")
    TextSearch.bm25TopK(Tables.documents(s, d), qdf, k = 10)
      .orderBy("query_id", "rank")
  }

  /** q91's ranking answered from the PERSISTED BM25 index (built in
    * this query via [[TextSearch.writeBm25Index]], then queried with no
    * corpus scan in the answering plan). Hash-checked against the SAME
    * DuckDB oracle as q91 — the strongest possible statement that the
    * index round-trip loses nothing: build-time df/dl denormalization
    * must reproduce the inline scores bit for bit. */
  def q102Bm25Index(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qdf = Seq(
      (0L, "scan filter merge"),
      (1L, "hash join"),
      (2L, "stream window batch"))
      .toDF("query_id", "query_text")
    TextSearch.writeBm25Index(Tables.documents(s, d), "graft_bm25_docs", buckets = 8)
    TextSearch.bm25TopKFromIndex(s, "graft_bm25_docs", qdf, k = 10)
      .orderBy("query_id", "rank")
  }

  /** Overlapping token-window chunking (64-token windows, stride 48)
    * over the corpus — row-local, shuffle-free, full hash oracle. */
  def q92Chunk(s: SparkSession, d: String): DataFrame =
    Curation.chunkTokens(Tables.documents(s, d), chunkSize = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  /** Deterministic epoch shuffle summarized per (epoch, batch): two
    * epochs of the same corpus produce two different — but each
    * individually reproducible — permutations, with no global sort
    * anywhere in the plan. The per-batch min sort_key pins the
    * in-batch ordering into the hash check. */
  def q93EpochShuffle(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Seq(0, 1).map { ep =>
      Curation.epochShuffle(docs, "doc_id", ep, nBatches = 16)
        .withColumn("epoch", lit(ep))
    }.reduce(_ unionByName _)
      .groupBy("epoch", "batch_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        min("sort_key").as("first_key"))
      .orderBy("epoch", "batch_id")
  }

  /** Exact-size deterministic per-language sample (30 docs per lang,
    * hash-ranked): the fixed-budget corpus spec a fraction-based sample
    * cannot deliver. Membership itself is hash-checked. */
  def q95FixedSizeSample(s: SparkSession, d: String): DataFrame =
    Curation.fixedSizeSample(Tables.documents(s, d), "doc_id", "lang", k = 30)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "doc_id")

  /** Per-language quality calibration: percent_rank of n_chars within
    * each language — the cross-language threshold-comparability move. */
  def q96QualityCalibration(s: SparkSession, d: String): DataFrame =
    Curation.calibrateQuality(Tables.documents(s, d), "lang",
      col("n_chars"), col("doc_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("calibrated"))
      .orderBy("doc_id")

  /** Bigram LM perplexity per document (CCNet-style fluency gate),
    * model trained on the corpus in the same plan. Full hash oracle —
    * counts are exact on both engines and the log/exp arithmetic is
    * identical. */
  def q97BigramPerplexity(s: SparkSession, d: String): DataFrame =
    TextSearch.bigramPerplexity(Tables.documents(s, d)).orderBy("doc_id")

  /** CCNet head/middle/tail corpus split (Wenzek et al. 2020 §4.4 —
    * the stage the released CommonCrawl corpora actually shipped): per
    * language, documents ranked by LM perplexity (the q97 bigram
    * model; its 2-dp-rounded score is engine-exact, so the order is
    * too; ties break by doc_id) and cut into equal-count terciles —
    * `head` is the most fluent third, the slice CCNet feeds to
    * pre-training first. Completes the repo's CCNet arc: canonical
    * URLs (q281) → census (q285) → frontier (q286) → boilerplate
    * (q253) → dedup (q31) → langid (q36) → LM perplexity (q97) →
    * trained classifier (q107) → THIS split.
    *
    * Scale shape — NO per-language corpus sort (a
    * `Window.partitionBy(lang).orderBy(ppx)` over the rows would put
    * all of English in one task at 100 TB): the rank comes from the
    * q113/weightedQuantiles two-phase discipline. Phase 1 prefix-sums
    * a (lang, perplexity) HISTOGRAM — its size is bounded by distinct
    * 2-dp scores, not corpus rows — under a per-lang window over that
    * histogram. Phase 2 equi-joins each doc back to its cell's
    * preceding count and resolves within-cell order by doc_id, a
    * window whose partition is one tie group. Tercile boundaries are
    * `3·rank ≤ n` integer arithmetic — no float cut line. The oracle
    * restates the whole thing as the naive per-lang ordered window,
    * so the hash match proves the two-phase rank identity. */
  def q290CcnetSplit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    // pinned: the scored frame feeds THREE consumers (the histogram →
    // prefix sums, the per-lang totals, and the final probe side) whose
    // pushed-down isnotnull sets differ — canonically different
    // subtrees, so exchange reuse alone would re-run the whole LM chain
    // per consumer (the bigramPerplexity one-pass lesson, one level up)
    val pp = graft.plans.Pin.lazily(TextSearch.bigramPerplexity(docs)
      .select(col("doc_id"), col("n_bigrams"), col("perplexity"))
      .join(docs.select("doc_id", "lang"), Seq("doc_id")))
    val hist = pp.groupBy("lang", "perplexity").agg(count(lit(1)).as("cnt"))
    val cum = hist
      .withColumn("cum_before",
        coalesce(sum("cnt").over(Window.partitionBy("lang")
          .orderBy("perplexity")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nLang = hist.groupBy("lang").agg(sum("cnt").as("n_lang"))
    pp.join(cum.select("lang", "perplexity", "cum_before"), Seq("lang", "perplexity"))
      .join(nLang, Seq("lang"))
      .withColumn("lang_rank", col("cum_before") +
        row_number().over(
          Window.partitionBy("lang", "perplexity").orderBy("doc_id")))
      .withColumn("bucket",
        when(col("lang_rank") * 3 <= col("n_lang"), "head")
          .when(col("lang_rank") * 3 <= col("n_lang") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("perplexity"),
        col("lang_rank"), col("n_lang"), col("bucket"))
      .orderBy("doc_id")
  }

  /** Preference-pair mining ([[Curation.preferencePairs]]) — the
    * DPO/RLHF pair-construction stage: documents grouped under a
    * deterministic pseudo-prompt key (lang × doc_id mod 200 — in
    * production the key is the prompt/conversation id the candidates
    * were sampled for), scored by n_chars (exact BIGINT, so both
    * engines agree bit-for-bit; in production the score is a reward-
    * model output), one (chosen, rejected) pair per prompt with the
    * ≥ 50-char margin gate. The scale story is the operator's: ONE
    * map-side-combinable aggregate — the naive per-prompt row_number
    * window or min×max self-join never appears. Full hash oracle (the
    * DuckDB restatement IS that naive window, so the match proves the
    * argmax-aggregate identity). */
  def q292PreferencePairs(s: SparkSession, d: String): DataFrame =
    Curation.preferencePairs(
        Tables.documents(s, d)
          .withColumn("prompt_bucket", pmod(col("doc_id"), lit(200L))),
        groupCols = Seq("lang", "prompt_bucket"),
        score = col("n_chars"), id = col("doc_id"), minMargin = lit(50L))
      .select(col("lang"), col("prompt_bucket"), col("chosen_id"),
        col("rejected_id"), col("chosen_score"), col("rejected_score"),
        col("margin"), col("n_candidates"))
      .orderBy("lang", "prompt_bucket")

  /** Corpus heavy hitters — exact top-20 bigrams by total count, the
    * n-gram frequency audit every tokenizer/contamination pipeline
    * starts from. Three scale disciplines compose, none of them a
    * global sort: (1) per-doc bigram counts are ROW-LOCAL (the q97
    * native `bigram_counts` — no occurrence-grain corpus shuffle);
    * (2) the corpus histogram aggregate partial-reduces map-side; (3)
    * the top-20 is the native bounded-heap `topk_agg` over the
    * histogram — the shuffle carries k pairs per partition, where the
    * row_number/ORDER-BY-LIMIT formulation sorts the full histogram
    * through one reducer. Bigrams ride through the heap as md5-h1
    * BIGINT ids (the repo's cross-engine hash — `topk_agg` ids are
    * longs) and ONLY the 20 winners join back to recover their
    * strings: a dictionary-free reverse lookup, broadcast-sized by
    * construction. Tie-break = (count DESC, id ASC) on both engines —
    * deterministic, so the full hash oracle (a naive ORDER BY LIMIT
    * in DuckDB) proves the heap identity. */
  def q293HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val hist = Tables.documents(s, d)
      .select(explode(expr(
        "bigram_counts(split(lower(trim(text)), '\\\\s+'))")).as("e"))
      .select(col("e.bg").as("bigram"), col("e.nb").as("nb"))
      .groupBy("bigram").agg(sum("nb").as("cnt"))
      .withColumn("bid",
        conv(substring(md5(col("bigram")), 1, 15), 16, 10).cast("long"))
      // heap pass + winner lookup both read it; at 100 TB the pinned
      // histogram is the memory-bound step — it spills per-executor to
      // local disk (MEMORY_AND_DISK blocks, see Pin scaladoc), so the
      // pin is disk-bounded, not heap-bounded
      .transform(graft.plans.Pin.lazily)
    val top = hist
      .agg(expr("topk_agg(CAST(cnt AS DOUBLE), bid, 20)").as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.score").cast("long").as("cnt"), col("col.id").as("bid"))
    top.join(hist.select("bigram", "bid"), Seq("bid"))
      .select(col("rank"), col("bigram"), col("cnt"))
      .orderBy("rank")
  }

  /** Length-bucketed batching padding audit
    * ([[Curation.lengthBatchingAudit]]): padded cost of batch-size-32
    * micro-batches when documents are grouped in token-length order vs
    * md5-random order — the fixed-context trainer's bucketing win,
    * quantified. Full hash oracle: DuckDB restates the length-ordered
    * rank as the naive global ordered window, so the match proves the
    * operator's histogram-rank two-phase identity; every total is
    * BIGINT and waste_pct divides the same two BIGINTs. */
  def q294LengthBatching(s: SparkSession, d: String): DataFrame =
    Curation.lengthBatchingAudit(
      Tables.documents(s, d).select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens("text")).as("n_toks")),
      idCol = "doc_id", lenCol = "n_toks", batchSize = 32)

  /** Capstone composition over the round's NEW operators — the q69
    * pattern applied to the second generation: paragraph-level dedup →
    * per-language calibrated quality gate (≥ 0.2) → overlapping
    * token-window chunking → epoch-shuffled batch assignment, all in
    * ONE plan with no driver-side data movement; every stage is an
    * already-verified operator and the whole chain is hash-checked
    * end-to-end. */
  def q98CorpusBuild2(s: SparkSession, d: String): DataFrame = {
    val deduped = Dedup.paragraphDedup(Tables.documents(s, d))
      .filter(col("n_kept") >= 1)
      .join(Tables.documents(s, d).select("doc_id", "lang"), Seq("doc_id"))
    val gated = Curation.calibrateQuality(deduped, "lang",
      length(col("text_dedup")), col("doc_id"))
      .filter(col("calibrated") >= 0.2)
    val chunks = Curation.chunkTokens(
      gated.select(col("doc_id"), col("text_dedup").as("text")),
      chunkSize = 64, stride = 48)
      .withColumn("chunk_key", concat_ws(":", col("doc_id"), col("chunk_id")))
    Curation.epochShuffle(chunks, "chunk_key", epoch = 0, nBatches = 16)
      .select(col("doc_id"), col("chunk_id"), col("batch_id"),
        col("chunk_len"), col("chunk_fp"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Global token-budget cut at 60% of the corpus's tokens, best
    * quality first — [[Curation.tokenBudgetCut]]'s two-phase
    * distributed prefix sum (bucketed running totals + broadcast
    * offsets; NO single-partition window over the corpus). The budget
    * is integer arithmetic (`total·6 ÷ 10` floored) and cum_tokens is
    * a sum of longs, so the cut line is bit-exact on both engines;
    * quality_score reuses q37's replicated formula. Full hash
    * oracle: DuckDB states the same cut with one ordered window. */
  def q113TokenBudget(s: SparkSession, d: String): DataFrame = {
    val scored = Tables.documents(s, d)
      .withColumn("toks", graft.functions.TextFunctions.tokens("text"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("quality_score",
        round(least(size(col("toks")).cast("double") / 50, lit(1.0)) *
          (lit(1.0) - graft.functions.TextFunctions.markerCount("toks", Seq("the", "a"))
            .cast("double") / size(col("toks"))), 4))
      .select("doc_id", "n_tokens", "quality_score")
    val total = scored.agg(sum("n_tokens").as("total_tokens"))
    Curation.tokenBudgetCut(
      scored.crossJoin(broadcast(total)),
      score = col("quality_score"), tieBreak = col("doc_id"),
      nTokens = col("n_tokens"), budgetTokens = floor(col("total_tokens") * 6 / 10).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("cum_tokens"))
      .orderBy("cum_tokens")
  }

  /** All-pairs sparse document similarity: TF-IDF cosine over the
    * inverted index ([[TextSearch.tfidfCosinePairs]]) — only pairs
    * sharing a surviving term materialize; df ∈ [2, 100] pruning is
    * part of the similarity's definition and the skew cap. Full hash
    * oracle (counts exact, ln/sqrt arithmetic identical, threshold on
    * the rounded similarity). */
  def q114TfidfPairs(s: SparkSession, d: String): DataFrame =
    TextSearch.tfidfCosinePairs(Tables.documents(s, d), threshold = 0.5)
      .orderBy("doc_a", "doc_b")

  /** Multi-source weighted corpus composition at declared TOKEN ratios
    * (the Pile/Dolma mixing recipe): a 50%-of-corpus token budget split
    * en 40 / es 20 / de 20 / fr 10 / zh 10, each source cut
    * best-quality-first by [[Curation.tokenBudgetMix]]'s per-source
    * two-phase prefix sum. All budget arithmetic is integer (`div`
    * floored at each step), cum_tokens a sum of longs — every cut line
    * is bit-exact on both engines. Full hash oracle: DuckDB states
    * each source's cut with one lang-partitioned ordered window. */
  def q115TokenMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ratios = Seq(("en", 4L), ("es", 2L), ("de", 2L), ("fr", 1L), ("zh", 1L))
      .toDF("lang", "ratio_x10")
    val scored = Tables.documents(s, d)
      .withColumn("toks", graft.functions.TextFunctions.tokens("text"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("quality_score",
        round(least(size(col("toks")).cast("double") / 50, lit(1.0)) *
          (lit(1.0) - graft.functions.TextFunctions.markerCount("toks", Seq("the", "a"))
            .cast("double") / size(col("toks"))), 4))
      .select("doc_id", "lang", "n_tokens", "quality_score")
    val total = scored.agg(sum("n_tokens").as("total_tokens"))
    val withBudget = scored
      .join(broadcast(ratios), Seq("lang"))
      .crossJoin(broadcast(total))
      .withColumn("src_budget",
        expr("(((total_tokens * 5) div 10) * ratio_x10) div 10"))
    Curation.tokenBudgetMix(withBudget, "lang",
        score = col("quality_score"), tieBreak = col("doc_id"),
        nTokens = col("n_tokens"), budgetTokens = col("src_budget"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("quality_score"),
        col("cum_tokens"), col("src_budget"))
      .orderBy("lang", "cum_tokens")
  }

  /** Gopher quality/repetition filter suite (Rae et al. 2021 App. A)
    * over the documents table: word/line-shape metrics, top-n-gram
    * concentration (n = 2..4), duplicate n-gram mass (n = 5..10),
    * per-doc failed-rule count and the keep decision. Every metric is
    * row-local (run-length `aggregate` folds over the doc's own sorted
    * shingles — ZERO exchanges, spec-asserted); fractions are exact
    * integer-over-integer divisions, so the full report hash-matches
    * DuckDB's unnest+group restatement unrounded. */
  def q116GopherRules(s: SparkSession, d: String): DataFrame = {
    QualityRules.gopherFilterReport(Tables.documents(s, d))
      .select(Seq("doc_id", "n_words", "mean_word_len", "stop_hits", "alpha_frac",
        "symbol_ratio", "n_lines", "dup_line_frac", "bullet_line_frac",
        "ellipsis_line_frac", "top2_frac", "top3_frac", "top4_frac",
        "dup5_frac", "dup6_frac", "dup7_frac", "dup8_frac", "dup9_frac",
        "dup10_frac", "n_failed", "keep").map(col): _*)
      .orderBy("doc_id")
  }

  /** PII scrub over the documents table. The synthetic corpus carries
    * no organic PII, so deterministic PII is PLANTED from doc_id
    * arithmetic — identically in the oracle — making detection counts
    * AND the redacted text itself (via md5 fingerprint) fully
    * hash-checked: a regex-semantics divergence between engines, a
    * missed occurrence, or a replacement-order change all flip the
    * fingerprint. Scrub is a zero-exchange map-only pass
    * (spec-asserted on the plan). */
  def q117PiiScrub(s: SparkSession, d: String): DataFrame = {
    def seg(mod: Int, body: Column): Column =
      when(col("doc_id") % mod === 0, body).otherwise(lit(""))
    val planted = Tables.documents(s, d).withColumn("pii_text", concat(
      col("text"),
      seg(3, concat(lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com now"))),
      seg(5, concat(lit(" call 555-"),
        lpad((col("doc_id") * 7 % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") * 13 % 10000).cast("string"), 4, "0"))),
      seg(7, concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") * 3 % 256).cast("string"))),
      seg(11, concat(lit(" ssn 123-45-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))))
    Pii.scrub(planted, "pii_text")
      .select(col("doc_id"), col("n_email"), col("n_ip"), col("n_phone"),
        col("n_ssn"), col("n_pii"), md5(col("redacted")).as("redacted_fp"),
        length(col("redacted")).as("n_chars_redacted"))
      .orderBy("doc_id")
  }

  /** DSIR importance resampling (Xie et al. 2023) toward the `en`
    * slice: hashed-bigram bag models fit in one corpus pass, row-local
    * fold scoring, deterministic Gumbel-top-k (25% of the corpus).
    * Full hash oracle — bucketing is the md5 idiom DuckDB replicates,
    * scoring is an ORDERED left fold on both engines (Spark aggregate
    * HOF vs DuckDB list_reduce, bit-identical summation), and the
    * ranking cut uses rounded keys with id tie-breaks. The spec
    * asserts the selection enriches the target slice. */
  def q118Dsir(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val k = (docs.count() / 4).toInt
    Dsir.select(s, docs, targetPred = col("lang") === "en", k = k)
      .select(col("doc_id"), col("lang"), col("n_grams"), col("logw"), col("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id"))
  }

  /** Filter-funnel attrition over the Gopher rule chain: how many docs
    * enter, survive, and drop at each of the 17 stages in declared
    * order — ONE corpus pass (cumulative-survival products reduce in a
    * single aggregate; the 17-row funnel explodes from that one row).
    * Full hash oracle restating the funnel with cumulative CASE
    * products. */
  def q120FilterFunnel(s: SparkSession, d: String): DataFrame = {
    QualityRules.gopherFunnel(Tables.documents(s, d)).orderBy("stage")
  }

  /** Vocabulary induction (top-20 types, strict count-then-token
    * order) + per-doc OOV counts and corpus coverage — the tokenizer
    * budget planning pass. Full hash oracle; one explode feeds both
    * the count table and the per-doc membership join. */
  def q121VocabOov(s: SparkSession, d: String): DataFrame =
    TextSearch.vocabCoverage(Tables.documents(s, d), vocabSize = 20)
      .orderBy("doc_id")

  /** Benchmark decontamination REMOVAL (GPT-3 App. C; q59/q84 only
    * report): the corpus's own test split is the benchmark, the
    * train+val side is scrubbed of any doc sharing a 13-token shingle.
    * Three bench docs are re-planted into the training side (shifted
    * ids) and MUST be dropped — `n_planted_dropped` = 3 rides in-row.
    * Full hash oracle: the bloom stage has no false negatives and FPs
    * are re-checked exactly, so the verdict equals DuckDB's pure exact
    * shingle join. */
  def q122Decontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val splitDocs = Curation.split(docs, "doc_id")
    val bench = splitDocs.filter(col("split") === "test").select("doc_id", "text")
    val trainBase = splitDocs.filter(col("split") =!= "test").select("doc_id", "text")
    val planted = bench
      .filter(size(graft.functions.TextFunctions.tokens("text")) >= 13)
      .orderBy("doc_id").limit(3)
      .select((col("doc_id") + PlantedBase).as("doc_id"), col("text"))
    val train = trainBase.unionByName(planted)
    val rep = Curation.decontaminate(train, bench, n = 13)
    val g = rep.agg(sum("contaminated").as("n_dropped"),
      sum(when(col("doc_id") >= PlantedBase, col("contaminated"))).as("n_planted_dropped"))
    rep.crossJoin(broadcast(g))
      .select(col("doc_id"), col("contaminated"), col("n_bench_docs"),
        col("max_shared"), col("n_dropped"), col("n_planted_dropped"))
      .orderBy("doc_id")
  }

  /** Streaming corpus-quality monitor: the documents table replayed as
    * a timestamped stream (event time derived from doc_id, sentinel-
    * advanced watermark), aggregated per 10-minute tumbling window ×
    * language in APPEND mode — the live ingest dashboard (doc volume,
    * short-doc rate, corpus-level mean word length) every training
    * pipeline runs beside its sinks. Window means are ratios of exact
    * long sums (Σchars/Σwords), so the whole streaming path — window
    * assignment, watermark eviction, append emission — hash-checks
    * against DuckDB's batch restatement. */
  def q123StreamQualityMonitor(s: SparkSession, d: String): DataFrame = {
    import graft.streaming.StreamingOps
    val dir = StreamingOps.stageDocsWithSentinel(s, s"$d/documents.parquet")
    val stream = s.readStream
      .schema(StreamingOps.docsStagedSchema)
      .parquet(dir)
      .withWatermark("ts", "1 minute")
      .withColumn("__toks", graft.functions.TextFunctions.tokens("text"))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("n_tokchars",
        expr("aggregate(__toks, 0L, (a, t) -> a + length(t))"))
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_words") < 50, 1L).otherwise(0L)).as("n_short"),
        sum("n_words").as("sum_words"),
        round(sum("n_tokchars") / sum("n_words"), 4).as("avg_word_len"))
    StreamingOps.drain(s, stream, "graft_stream_quality",
      outputMode = "append",
      drainPartitions = StreamingOps.adaptiveDrainWidth(s, dir)).df
      .filter(col("lang") =!= "zz")
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("lang"), col("n_docs"), col("n_short"), col("sum_words"),
        col("avg_word_len"))
      .orderBy("window_start", "lang")
  }

  /** SCD2 collapse of the events change-log: per-user runs of
    * consecutive identical event_type become [valid_from, valid_to)
    * validity intervals with a version counter and an is_current flag
    * on the open interval. One shuffle on the dimension key, no global
    * sort anywhere ([[Scd.scd2]]). Full hash oracle: the run collapse
    * is gaps-and-islands arithmetic DuckDB restates exactly (both
    * sides order by microsecond-floored ts with event_id tiebreak). */
  def q124Scd2(s: SparkSession, d: String): DataFrame =
    Scd.scd2(Tables.events(s, d), keyCols = Seq("user_id"),
        attrCols = Seq("event_type"), tsCol = "ts", tieCols = Seq("event_id"))
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        col("n_rows"),
        coalesce(date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss"), lit(""))
          .as("valid_to"),
        col("is_current"))
      .orderBy("user_id", "version")

  /** Corpus snapshot diff between two builds: the new snapshot is the
    * old one with every `doc_id % 10 = 3` document dropped (removed),
    * every `% 10 = 4` document revised (changed), and the 5 lowest-id
    * documents re-added under shifted ids (added). Output = only the
    * non-`unchanged` keys with both sides' fingerprints — the audit
    * feed for incremental re-embedding/re-dedup. The join carries
    * (key, 32-byte md5), never the documents ([[Curation.snapshotDiff]]);
    * full hash oracle since both engines compute the same md5 over
    * separator-joined content. */
  def q125SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val old = Tables.documents(s, d).select("doc_id", "text", "lang")
    val added = old.orderBy("doc_id").limit(5)
      .select((col("doc_id") + PlantedBase).as("doc_id"), col("text"), col("lang"))
    val neu = old.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 4,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .unionByName(added)
    Curation.snapshotDiff(old, neu, "doc_id", Seq("text", "lang"))
      .select(col("doc_id"), col("status"),
        coalesce(col("old_fp"), lit("")).as("old_fp"),
        coalesce(col("new_fp"), lit("")).as("new_fp"))
      .orderBy("doc_id")
  }

  /** Full DuckDB replay of q90's SemDeDup chain (r11 verdict item 2 —
    * the q100 Lloyd-unroll precedent applied to the production dedup
    * query): dynamic n and k = greatest(8, n // 200), seeds via the
    * verified ⌊q·n⌋+1 rank rule (the q43 idiom; Spark's
    * percentile_approx at accuracy 10000 is exact at every
    * oracle-gated n), five unrolled Lloyd rounds with float-cast
    * centroids and empty-cell carry-forward (`LEFT JOIN` keeps the old
    * centroid — kmeansFit's `next = centroids.clone()` semantics).
    * The seed rank rule is ceil(q·n) — NOT ⌊q·n⌋+1, which only agrees
    * when q·n is non-integer (all q43 ever saw); at n=2004, k=10 the
    * products 0.25·2004 = 501 exactly and the two rules pick adjacent
    * ids (measured, the r12 sf0.1 divergence). Ceil matches Spark's
    * exact-mode percentile on integer and non-integer products alike.
    * assignment ties (cos DESC, cell DESC) = NearestCells' larger-id
    * rule, the within-cell pair search thresholded on the
    * 6-dp-ROUNDED cosine, min-id components via a recursive
    * transitive-closure CTE (the q94 idiom; duplicate components are
    * tiny, so the closure is bounded), and the maxCluster=10000 skew
    * cap restated as the same cells-over-cap filter + audit counts.
    * Cross-engine exactness: per-row folds are list_cosine_similarity
    * on DOUBLE[] (the q43-proven equivalent of the engine's
    * sequential cosine_sim loop); the only cross-row double sums are
    * the per-cell vector sums, whose ~1e-13 noise dies at the FLOAT
    * centroid cast (q100's measured argument). */
  private lazy val q90OracleSql: String = {
    val D = 64
    def lloydIter(t: Int): String =
      s""",
         |a$t AS (
         |  SELECT vec_id, cell, e FROM (
         |    SELECT u.vec_id, c.cell, u.e,
         |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
         |        round(list_cosine_similarity(u.e, c.c), 6) DESC, c.cell DESC) AS rn
         |    FROM u CROSS JOIN c${t - 1} c) WHERE rn = 1),
         |s$t AS (
         |  SELECT cell, max(cnt) AS n, list(s ORDER BY pos) AS vsum FROM (
         |    SELECT cell, pos, sum(e[pos]) AS s, count(*) AS cnt
         |    FROM a$t, range(1, ${D + 1}) r(pos) GROUP BY cell, pos)
         |  GROUP BY cell),
         |c$t AS (
         |  SELECT p.cell,
         |    CASE WHEN s.cell IS NULL THEN p.c
         |         ELSE CAST(list_transform(range(1, ${D + 1}),
         |                i -> CAST(s.vsum[i] / s.n AS FLOAT)) AS DOUBLE[]) END AS c
         |  FROM c${t - 1} p LEFT JOIN s$t s USING (cell))""".stripMargin
    s"""WITH RECURSIVE allv AS (
       |  SELECT vec_id, embedding AS e0 FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantedBase, embedding FROM embeddings WHERE vec_id < 4),
       |pars AS (SELECT count(*) AS n, greatest(8, count(*) // 200) AS k FROM allv),
       |rk AS (SELECT vec_id, e0, row_number() OVER (ORDER BY vec_id) AS r FROM allv),
       |cids AS (
       |  SELECT DISTINCT rk.vec_id
       |  FROM rk CROSS JOIN pars
       |  JOIN (SELECT unnest(range(0, 256)) AS i) ii
       |    ON ii.i < pars.k
       |   AND rk.r = CAST(ceil((2 * ii.i + 1) / (2.0 * pars.k) * pars.n)
       |     AS BIGINT)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY rk.vec_id) - 1 AS BIGINT) AS cell,
       |    CAST(rk.e0 AS DOUBLE[]) AS c
       |  FROM rk JOIN cids USING (vec_id)),
       |u AS (SELECT vec_id, CAST(e0 AS DOUBLE[]) AS e FROM allv)""".stripMargin +
      (1 to 5).map(lloydIter).mkString +
      s""",
         |a6 AS (
         |  SELECT vec_id, cell, e FROM (
         |    SELECT u.vec_id, c.cell, u.e,
         |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
         |        round(list_cosine_similarity(u.e, c.c), 6) DESC, c.cell DESC) AS rn
         |    FROM u CROSS JOIN c5 c) WHERE rn = 1),
         |cellsz AS (SELECT cell, count(*) AS sz FROM a6 GROUP BY cell),
         |prs AS (
         |  SELECT x.vec_id AS doc_a, y.vec_id AS doc_b
         |  FROM a6 x JOIN a6 y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  JOIN cellsz cz ON cz.cell = x.cell AND cz.sz <= 10000
         |  WHERE round(list_cosine_similarity(x.e, y.e), 6) >= 0.97),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM prs
         |       UNION SELECT doc_b, doc_a FROM prs),
         |reach(a, b) AS (
         |  SELECT a, b FROM ed
         |  UNION
         |  SELECT r.a, e2.b FROM reach r JOIN ed e2 ON r.b = e2.a),
         |lab AS (SELECT a AS vec_id, least(a, min(b)) AS survivor_id
         |        FROM reach GROUP BY a),
         |rem AS (SELECT vec_id, survivor_id FROM lab WHERE vec_id <> survivor_id),
         |cap AS (
         |  SELECT CAST(coalesce(count(*) FILTER (WHERE sz > 10000), 0) AS BIGINT)
         |      AS capped_clusters,
         |    CAST(coalesce(sum(sz) FILTER (WHERE sz > 10000), 0) AS BIGINT)
         |      AS capped_rows
         |  FROM cellsz)
         |SELECT r.vec_id, r.survivor_id, a6.cell,
         |  CAST(r.vec_id >= $PlantedBase AS INT) AS is_planted,
         |  (SELECT CAST(coalesce(sum(CASE WHEN vec_id >= $PlantedBase
         |     THEN 1 ELSE 0 END), 0) AS BIGINT) FROM rem) AS planted_removed,
         |  cap.capped_clusters, cap.capped_rows
         |FROM rem r JOIN a6 USING (vec_id) CROSS JOIN cap
         |ORDER BY r.vec_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q90_semantic_dedup", q90SemanticDedup, q90OracleSql),
    QuerySpec("q98_corpus_build2", q98CorpusBuild2,
      """WITH p AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM documents),
        |e AS (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |        i -> {'pos': i, 'para': trim(ps[i])})) AS s FROM p),
        |f AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM e WHERE s.para <> ''),
        |kf AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
        |  FROM f),
        |agg AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS txt
        |  FROM kf GROUP BY 1),
        |base AS (SELECT a.doc_id, d.lang, a.txt
        |  FROM agg a JOIN documents d USING (doc_id)
        |  WHERE a.n_kept >= 1),
        |cal AS (SELECT doc_id, txt,
        |    round(percent_rank() OVER (PARTITION BY lang
        |      ORDER BY length(txt), doc_id), 6) AS q
        |  FROM base),
        |kept AS (SELECT doc_id, txt FROM cal WHERE q >= 0.2),
        |t AS (SELECT doc_id, string_split_regex(lower(trim(txt)), '\s+') AS toks FROM kept),
        |n AS (SELECT doc_id, toks, len(toks) AS n_toks FROM t WHERE len(toks) >= 1),
        |c AS (SELECT doc_id, toks,
        |    CAST(1 + ceil(greatest(n_toks - 64, 0) / 48.0) AS INT) AS n_chunks FROM n),
        |ch AS (SELECT doc_id, toks,
        |    unnest(list_transform(range(0, n_chunks), i -> {'cid': i, 'st': i * 48})) AS s
        |  FROM c),
        |fc AS (SELECT doc_id, CAST(s.cid AS INT) AS chunk_id,
        |    list_slice(toks, s.st + 1, s.st + 64) AS chunk_toks FROM ch),
        |sh AS (SELECT doc_id, chunk_id,
        |    CAST(len(chunk_toks) AS INT) AS chunk_len,
        |    md5(array_to_string(chunk_toks, ' ')) AS chunk_fp,
        |    md5('epoch:0:' || doc_id || ':' || chunk_id) AS sk
        |  FROM fc)
        |SELECT doc_id, chunk_id,
        |  ('0x' || substr(sk, 1, 6))::BIGINT % 16 AS batch_id,
        |  chunk_len, chunk_fp
        |FROM sh ORDER BY doc_id, chunk_id""".stripMargin),
    QuerySpec("q89_paragraph_dedup", q89ParagraphDedup,
      """WITH allr AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-3 AS BIGINT), 'common paragraph two' || chr(10) ||
        |      'common paragraph one' || chr(10) || 'tail text unique to minus three'),
        |    (CAST(-2 AS BIGINT), 'common paragraph one' || chr(10) ||
        |      'unique middle paragraph' || chr(10) || 'common paragraph two'),
        |    (CAST(-1 AS BIGINT), 'alpha beta gamma' || chr(10) ||
        |      'common paragraph one' || chr(10) || 'zeta eta theta')
        |  ) AS t(doc_id, text)),
        |p AS (SELECT doc_id, string_split(text, chr(10)) AS ps FROM allr),
        |e AS (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |        i -> {'pos': i, 'para': trim(ps[i])})) AS s FROM p),
        |f AS (SELECT doc_id, s.pos AS pos, s.para AS para FROM e WHERE s.para <> ''),
        |kf AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
        |  FROM f),
        |agg AS (SELECT doc_id, count(*) AS n_paras,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    coalesce(string_agg(CASE WHEN rn = 1 THEN para END, chr(10) ORDER BY pos), '') AS txt
        |  FROM kf GROUP BY 1)
        |SELECT a.doc_id,
        |  coalesce(agg.n_paras, 0) AS n_paras,
        |  coalesce(agg.n_kept, 0) AS n_kept,
        |  length(coalesce(agg.txt, '')) AS n_chars_dedup,
        |  md5(coalesce(agg.txt, '')) AS dedup_fp
        |FROM allr a LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q91_bm25", q91Bm25, Bm25OracleSql),
    // the from-index path must reproduce the inline ranking bit for
    // bit, so it shares q91's oracle verbatim
    QuerySpec("q102_bm25_index", q102Bm25Index, Bm25OracleSql),
    QuerySpec("q92_chunk", q92Chunk,
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n_toks FROM t WHERE len(toks) >= 1),
        |c AS (SELECT doc_id, toks,
        |    CAST(1 + ceil(greatest(n_toks - 64, 0) / 48.0) AS INT) AS n_chunks
        |  FROM n),
        |e AS (SELECT doc_id, toks,
        |    unnest(list_transform(range(0, n_chunks), i -> {'cid': i, 'st': i * 48})) AS s
        |  FROM c),
        |f AS (SELECT doc_id,
        |    CAST(s.cid AS INT) AS chunk_id, CAST(s.st AS INT) AS start_tok,
        |    list_slice(toks, s.st + 1, s.st + 64) AS chunk_toks
        |  FROM e)
        |SELECT doc_id, chunk_id, start_tok,
        |  CAST(len(chunk_toks) AS INT) AS chunk_len,
        |  md5(array_to_string(chunk_toks, ' ')) AS chunk_fp
        |FROM f ORDER BY doc_id, chunk_id""".stripMargin),
    QuerySpec("q93_epoch_shuffle", q93EpochShuffle,
      """WITH e AS (
        |  SELECT doc_id, ep AS epoch,
        |    md5('epoch:' || ep || ':' || CAST(doc_id AS VARCHAR)) AS sort_key
        |  FROM documents CROSS JOIN (VALUES (0), (1)) AS t(ep)),
        |b AS (SELECT epoch, doc_id, sort_key,
        |    ('0x' || substr(sort_key, 1, 6))::BIGINT % 16 AS batch_id
        |  FROM e)
        |SELECT epoch, batch_id, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  min(sort_key) AS first_key
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q95_fixed_size_sample", q95FixedSizeSample,
      """WITH r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT lang, doc_id, n_chars FROM r
        |WHERE rn <= 30 ORDER BY lang, doc_id""".stripMargin),
    QuerySpec("q96_quality_calibration", q96QualityCalibration,
      """SELECT doc_id, lang, n_chars,
        |  round(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id), 6) AS calibrated
        |FROM documents ORDER BY doc_id""".stripMargin),
    QuerySpec("q97_bigram_perplexity", q97BigramPerplexity,
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |e AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'bg': toks[i] || ' ' || toks[i+1]})) AS s
        |  FROM f),
        |b AS (SELECT doc_id, s.w1 AS w1, s.bg AS bg FROM e),
        |db AS (SELECT doc_id, w1, bg, count(*) AS nb FROM b GROUP BY 1, 2, 3),
        |bs AS (SELECT w1, bg, sum(nb) AS c2 FROM db GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM bs GROUP BY 1),
        |v AS (SELECT count(*) AS vocab, CAST(sum(c2) AS BIGINT) AS total_bigrams FROM bs),
        |sc AS (SELECT db.doc_id, db.nb, v.vocab, v.total_bigrams,
        |    -ln((bs.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab)) AS nlp
        |  FROM db
        |  JOIN (SELECT bg, c2 FROM bs) bs USING (bg)
        |  JOIN c1 ON db.w1 = c1.w1
        |  CROSS JOIN v)
        |SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_bigrams,
        |  round(sum(nb * nlp) / sum(nb), 4) AS avg_neg_logp,
        |  round(exp(sum(nb * nlp) / sum(nb)), 2) AS perplexity,
        |  min(vocab) AS vocab, min(total_bigrams) AS total_bigrams
        |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin),
    // the q97 model chain + the naive per-lang ordered window — the
    // engine's histogram two-phase rank must agree row-for-row, so the
    // hash match proves the rank identity (the q113 pattern per lang)
    QuerySpec("q290_ccnet_split", q290CcnetSplit,
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 2),
        |e AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> {'w1': toks[i], 'bg': toks[i] || ' ' || toks[i+1]})) AS s
        |  FROM f),
        |b AS (SELECT doc_id, s.w1 AS w1, s.bg AS bg FROM e),
        |db AS (SELECT doc_id, w1, bg, count(*) AS nb FROM b GROUP BY 1, 2, 3),
        |bs AS (SELECT w1, bg, sum(nb) AS c2 FROM db GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM bs GROUP BY 1),
        |v AS (SELECT count(*) AS vocab FROM bs),
        |sc AS (SELECT db.doc_id, db.nb,
        |    -ln((bs.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab)) AS nlp
        |  FROM db
        |  JOIN (SELECT bg, c2 FROM bs) bs USING (bg)
        |  JOIN c1 ON db.w1 = c1.w1
        |  CROSS JOIN v),
        |pp AS (SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n_bigrams,
        |    round(exp(sum(nb * nlp) / sum(nb)), 2) AS perplexity
        |  FROM sc GROUP BY 1),
        |j AS (SELECT pp.doc_id, d.lang, pp.n_bigrams, pp.perplexity
        |  FROM pp JOIN documents d USING (doc_id)),
        |r AS (SELECT doc_id, lang, n_bigrams, perplexity,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY perplexity, doc_id) AS BIGINT) AS lang_rank,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
        |  FROM j)
        |SELECT doc_id, lang, n_bigrams, perplexity, lang_rank, n_lang,
        |  CASE WHEN lang_rank * 3 <= n_lang THEN 'head'
        |       WHEN lang_rank * 3 <= n_lang * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r ORDER BY doc_id""".stripMargin),
    // the oracle states the pair selection as the NAIVE per-prompt
    // row_number windows — the engine's single min_by/max_by aggregate
    // must agree row-for-row (ties break on doc_id inside the key on
    // both sides), so the hash match proves the argmax identity
    QuerySpec("q292_preference_pairs", q292PreferencePairs,
      """WITH c AS (
        |  SELECT lang, doc_id % 200 AS prompt_bucket, doc_id, n_chars
        |  FROM documents),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY lang, prompt_bucket
        |      ORDER BY n_chars DESC, doc_id DESC) AS rmax,
        |    row_number() OVER (PARTITION BY lang, prompt_bucket
        |      ORDER BY n_chars ASC, doc_id ASC) AS rmin,
        |    count(*) OVER (PARTITION BY lang, prompt_bucket) AS n
        |  FROM c),
        |ch AS (SELECT lang, prompt_bucket, doc_id AS chosen_id,
        |    n_chars AS chosen_score, CAST(n AS BIGINT) AS n_candidates
        |  FROM r WHERE rmax = 1),
        |rj AS (SELECT lang, prompt_bucket, doc_id AS rejected_id,
        |    n_chars AS rejected_score
        |  FROM r WHERE rmin = 1)
        |SELECT ch.lang, ch.prompt_bucket, chosen_id, rejected_id,
        |  chosen_score, rejected_score,
        |  chosen_score - rejected_score AS margin, n_candidates
        |FROM ch JOIN rj USING (lang, prompt_bucket)
        |WHERE chosen_score - rejected_score >= 50
        |ORDER BY lang, prompt_bucket""".stripMargin),
    // the oracle is the NAIVE global ORDER BY LIMIT over the bigram
    // histogram — the engine's bounded-heap topk_agg (ties: count
    // DESC, md5-h1 id ASC) must agree row-for-row
    QuerySpec("q293_heavy_hitters", q293HeavyHitters,
      """WITH t AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |e AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM t WHERE len(toks) >= 2),
        |h AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
        |b AS (SELECT bigram, cnt,
        |    ('0x' || substr(md5(bigram), 1, 15))::BIGINT AS bid FROM h),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, bid ASC) AS rank
        |  FROM b)
        |SELECT CAST(rank AS INT) AS rank, bigram, cnt
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin),
    // the oracle states the length-sorted rank as the naive global
    // ordered window — the engine's histogram-rank two-phase must
    // agree row-for-row; every total is BIGINT on both engines
    QuerySpec("q294_length_batching", q294LengthBatching,
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |n AS (SELECT (count(*) + 31) // 32 AS nb FROM t),
        |srt AS (
        |  SELECT n_toks,
        |    (row_number() OVER (ORDER BY n_toks, doc_id) - 1) // 32 AS batch
        |  FROM t),
        |hsh AS (
        |  SELECT n_toks,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |      % (SELECT nb FROM n) AS batch
        |  FROM t),
        |pb AS (
        |  SELECT 'hashed' AS strategy, batch, CAST(count(*) AS BIGINT) AS cnt,
        |    max(n_toks) AS mx, CAST(sum(n_toks) AS BIGINT) AS tot
        |  FROM hsh GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'length_sorted', batch, CAST(count(*) AS BIGINT),
        |    max(n_toks), CAST(sum(n_toks) AS BIGINT)
        |  FROM srt GROUP BY 1, 2)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |  CAST(sum(cnt) AS BIGINT) AS n_docs,
        |  CAST(sum(tot) AS BIGINT) AS real_tokens,
        |  CAST(sum(cnt * mx) AS BIGINT) AS padded_tokens,
        |  round(100.0 * (CAST(sum(cnt * mx) AS BIGINT) - CAST(sum(tot) AS BIGINT))
        |    / CAST(sum(cnt * mx) AS BIGINT), 4) AS waste_pct
        |FROM pb GROUP BY 1 ORDER BY 1""".stripMargin),
    // the oracle states the cut as ONE ordered window — the engine's
    // bucketed two-phase prefix sum must agree row-for-row
    QuerySpec("q113_token_budget", q113TokenBudget,
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks)), 4)
        |      AS quality_score
        |  FROM t),
        |b AS (SELECT (sum(n_tokens) * 6) // 10 AS budget FROM s),
        |c AS (
        |  SELECT doc_id, n_tokens, quality_score,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id) AS BIGINT)
        |      AS cum_tokens
        |  FROM s)
        |SELECT doc_id, n_tokens, quality_score, cum_tokens
        |FROM c, b WHERE cum_tokens <= budget
        |ORDER BY cum_tokens""".stripMargin),
    QuerySpec("q114_tfidf_pairs", q114TfidfPairs,
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t GROUP BY 1, 2),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
        |  HAVING count(*) BETWEEN 2 AND 100),
        |w AS (
        |  SELECT doc_id, term, tf * ln(n_docs * 1.0 / df) AS w
        |  FROM tf JOIN dft USING (term) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS n_shared_terms, sum(a.w * b.w) AS dot
        |  FROM w a JOIN w b USING (term)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, n_shared_terms,
        |  round(dot / (x.nrm * y.nrm), 6) AS sim
        |FROM p JOIN nrm x ON p.doc_a = x.doc_id JOIN nrm y ON p.doc_b = y.doc_id
        |WHERE round(dot / (x.nrm * y.nrm), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin),
    // each source's cut is ONE lang-partitioned ordered window here —
    // the engine's per-source bucketed prefix sum must agree
    // row-for-row on every cut line
    QuerySpec("q115_token_mix", q115TokenMix,
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0 / len(toks)), 4)
        |      AS quality_score
        |  FROM t),
        |tot AS (SELECT (sum(n_tokens) * 5) // 10 AS budget FROM s),
        |r(lang, ratio_x10) AS (VALUES ('en', 4), ('es', 2), ('de', 2), ('fr', 1), ('zh', 1)),
        |c AS (
        |  SELECT doc_id, s.lang AS lang, n_tokens, quality_score,
        |    CAST(sum(n_tokens) OVER (PARTITION BY s.lang
        |      ORDER BY quality_score DESC, doc_id) AS BIGINT) AS cum_tokens,
        |    CAST((tot.budget * r.ratio_x10) // 10 AS BIGINT) AS src_budget
        |  FROM s JOIN r USING (lang) CROSS JOIN tot)
        |SELECT doc_id, lang, n_tokens, quality_score, cum_tokens, src_budget
        |FROM c WHERE cum_tokens <= src_budget
        |ORDER BY lang, cum_tokens""".stripMargin),
    // unnest + per-(doc, n, gram) group restatement of the engine's
    // row-local run-length folds; fractions are long/long divisions so
    // both engines agree bit-exactly unrounded
    QuerySpec("q116_gopher_rules", q116GopherRules,
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n,
        |    unnest(list_transform(range(0, greatest(len(toks) - n + 1, 0)),
        |      i -> array_to_string(toks[i+1:i+n], ' '))) AS gram
        |  FROM t CROSS JOIN (SELECT unnest(range(2, 11)) AS n)),
        |c AS (
        |  SELECT doc_id, n, gram, count(*) AS cnt, length(gram) - (n - 1) AS chars
        |  FROM g GROUP BY doc_id, n, gram),
        |st AS (
        |  SELECT doc_id, n,
        |    max(cnt * chars) AS top,
        |    coalesce(sum(cnt * chars) FILTER (WHERE cnt >= 2), 0) AS dup,
        |    sum(cnt * chars) AS tot
        |  FROM c GROUP BY doc_id, n),
        |p AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN top / tot END), 0.0) AS top2_frac,
        |    coalesce(max(CASE WHEN n = 3 THEN top / tot END), 0.0) AS top3_frac,
        |    coalesce(max(CASE WHEN n = 4 THEN top / tot END), 0.0) AS top4_frac,
        |    coalesce(max(CASE WHEN n = 5 THEN dup / tot END), 0.0) AS dup5_frac,
        |    coalesce(max(CASE WHEN n = 6 THEN dup / tot END), 0.0) AS dup6_frac,
        |    coalesce(max(CASE WHEN n = 7 THEN dup / tot END), 0.0) AS dup7_frac,
        |    coalesce(max(CASE WHEN n = 8 THEN dup / tot END), 0.0) AS dup8_frac,
        |    coalesce(max(CASE WHEN n = 9 THEN dup / tot END), 0.0) AS dup9_frac,
        |    coalesce(max(CASE WHEN n = 10 THEN dup / tot END), 0.0) AS dup10_frac
        |  FROM st GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_word_len,
        |    len(list_filter(list_distinct(toks),
        |      x -> x IN ('the', 'a', 'data', 'table'))) AS stop_hits,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) / len(toks) AS alpha_frac,
        |    len(regexp_extract_all(text, '#|\.\.\.')) / len(toks) AS symbol_ratio,
        |    len(lines) AS n_lines,
        |    1.0 - len(list_distinct(lines)) / len(lines) AS dup_line_frac,
        |    len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) / len(lines) AS bullet_line_frac,
        |    len(list_filter(lines, l -> l LIKE '%...')) / len(lines) AS ellipsis_line_frac
        |  FROM t),
        |m AS (
        |  SELECT b.*, p.top2_frac, p.top3_frac, p.top4_frac, p.dup5_frac, p.dup6_frac,
        |    p.dup7_frac, p.dup8_frac, p.dup9_frac, p.dup10_frac
        |  FROM b JOIN p USING (doc_id)),
        |f AS (
        |  SELECT *,
        |    (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END) +
        |    (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 0 ELSE 1 END) +
        |    (CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END) +
        |    (CASE WHEN alpha_frac >= 0.8 THEN 0 ELSE 1 END) +
        |    (CASE WHEN stop_hits >= 2 THEN 0 ELSE 1 END) +
        |    (CASE WHEN bullet_line_frac <= 0.1 THEN 0 ELSE 1 END) +
        |    (CASE WHEN ellipsis_line_frac <= 0.3 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup_line_frac <= 0.3 THEN 0 ELSE 1 END) +
        |    (CASE WHEN top2_frac <= 0.20 THEN 0 ELSE 1 END) +
        |    (CASE WHEN top3_frac <= 0.18 THEN 0 ELSE 1 END) +
        |    (CASE WHEN top4_frac <= 0.16 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup5_frac <= 0.15 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup6_frac <= 0.14 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup7_frac <= 0.13 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup8_frac <= 0.12 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup9_frac <= 0.11 THEN 0 ELSE 1 END) +
        |    (CASE WHEN dup10_frac <= 0.10 THEN 0 ELSE 1 END) AS n_failed
        |  FROM m)
        |SELECT doc_id, n_words, mean_word_len, stop_hits, alpha_frac, symbol_ratio,
        |  n_lines, dup_line_frac, bullet_line_frac, ellipsis_line_frac,
        |  top2_frac, top3_frac, top4_frac, dup5_frac, dup6_frac, dup7_frac,
        |  dup8_frac, dup9_frac, dup10_frac, n_failed,
        |  CASE WHEN n_failed = 0 THEN 1 ELSE 0 END AS keep
        |FROM f ORDER BY doc_id""".stripMargin),
    // plants the same doc_id-derived PII, then re-states detection and
    // redaction with RE2 ('g' flag: DuckDB replaces first-only by
    // default, Spark replaces all)
    QuerySpec("q117_pii_scrub", q117PiiScrub,
      """WITH p AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id * 3 % 256 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS pii_text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, pii_text,
        |    len(regexp_extract_all(pii_text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
        |    len(regexp_extract_all(pii_text, '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}')) AS n_ip,
        |    len(regexp_extract_all(pii_text, '\d{3}-\d{3}-\d{4}')) AS n_phone,
        |    len(regexp_extract_all(pii_text, '\d{3}-\d{2}-\d{4}')) AS n_ssn,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(pii_text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
        |          '\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}', '<ip>', 'g'),
        |        '\d{3}-\d{3}-\d{4}', '<phone>', 'g'),
        |      '\d{3}-\d{2}-\d{4}', '<ssn>', 'g') AS redacted
        |  FROM p)
        |SELECT doc_id, n_email, n_ip, n_phone, n_ssn,
        |  n_email + n_ip + n_phone + n_ssn AS n_pii,
        |  md5(redacted) AS redacted_fp, length(redacted) AS n_chars_redacted
        |FROM r ORDER BY doc_id""".stripMargin),
    // same md5 bucketing, same ordered-fold scoring (list_reduce), same
    // rounded-key Gumbel-top-k cut
    QuerySpec("q118_dsir", q118Dsir,
      """WITH t AS (
        |  SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    list_transform(range(0, greatest(len(toks) - 1, 0)),
        |      i -> array_to_string(toks[i+1:i+2], ' ')) AS grams
        |  FROM t),
        |e AS (SELECT doc_id, lang, unnest(grams) AS gram FROM g),
        |cnt AS (
        |  SELECT ('0x' || substr(md5(gram), 1, 6))::BIGINT % 256 AS b,
        |    count(*) AS c_raw, count(*) FILTER (WHERE lang = 'en') AS c_t
        |  FROM e GROUP BY 1),
        |tot AS (SELECT CAST(sum(c_raw) AS DOUBLE) AS t_raw, CAST(sum(c_t) AS DOUBLE) AS t_t FROM cnt),
        |ratio AS (
        |  SELECT b, ln((c_t + 1.0) / (t_t + 256)) - ln((c_raw + 1.0) / (t_raw + 256)) AS lr
        |  FROM cnt CROSS JOIN tot),
        |rmap AS (SELECT map(list(b ORDER BY b), list(lr ORDER BY b)) AS m FROM ratio),
        |sc AS (
        |  SELECT doc_id, lang, len(grams) AS n_grams,
        |    CASE WHEN len(grams) = 0 THEN 0.0 ELSE
        |      list_reduce(list_transform(grams, x ->
        |        m[('0x' || substr(md5(x), 1, 6))::BIGINT % 256][1]), (a, b) -> a + b)
        |    END AS logw_raw
        |  FROM g CROSS JOIN rmap),
        |keyed AS (
        |  SELECT doc_id, lang, n_grams, round(logw_raw, 4) AS logw,
        |    round(logw_raw + (-ln(-ln(
        |      ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000000) + 0.5)
        |        / 1000000.0))), 4) AS sel_key
        |  FROM sc),
        |n AS (SELECT count(*) // 4 AS k FROM documents)
        |SELECT doc_id, lang, n_grams, logw, sel_key
        |FROM keyed CROSS JOIN n
        |QUALIFY row_number() OVER (ORDER BY sel_key DESC, doc_id) <= k
        |ORDER BY sel_key DESC, doc_id""".stripMargin),
    // q116's metric CTE chain + cumulative CASE products, unnested to
    // the 17-stage funnel
    QuerySpec("q120_filter_funnel", q120FilterFunnel,
      """WITH t AS (
        |  SELECT doc_id, text,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n,
        |    unnest(list_transform(range(0, greatest(len(toks) - n + 1, 0)),
        |      i -> array_to_string(toks[i+1:i+n], ' '))) AS gram
        |  FROM t CROSS JOIN (SELECT unnest(range(2, 11)) AS n)),
        |c AS (
        |  SELECT doc_id, n, gram, count(*) AS cnt, length(gram) - (n - 1) AS chars
        |  FROM g GROUP BY doc_id, n, gram),
        |st AS (
        |  SELECT doc_id, n,
        |    max(cnt * chars) AS top,
        |    coalesce(sum(cnt * chars) FILTER (WHERE cnt >= 2), 0) AS dup,
        |    sum(cnt * chars) AS tot
        |  FROM c GROUP BY doc_id, n),
        |p AS (
        |  SELECT doc_id,
        |    coalesce(max(CASE WHEN n = 2 THEN top / tot END), 0.0) AS top2_frac,
        |    coalesce(max(CASE WHEN n = 3 THEN top / tot END), 0.0) AS top3_frac,
        |    coalesce(max(CASE WHEN n = 4 THEN top / tot END), 0.0) AS top4_frac,
        |    coalesce(max(CASE WHEN n = 5 THEN dup / tot END), 0.0) AS dup5_frac,
        |    coalesce(max(CASE WHEN n = 6 THEN dup / tot END), 0.0) AS dup6_frac,
        |    coalesce(max(CASE WHEN n = 7 THEN dup / tot END), 0.0) AS dup7_frac,
        |    coalesce(max(CASE WHEN n = 8 THEN dup / tot END), 0.0) AS dup8_frac,
        |    coalesce(max(CASE WHEN n = 9 THEN dup / tot END), 0.0) AS dup9_frac,
        |    coalesce(max(CASE WHEN n = 10 THEN dup / tot END), 0.0) AS dup10_frac
        |  FROM st GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id,
        |    len(toks) AS n_words,
        |    list_sum(list_transform(toks, x -> length(x))) / len(toks) AS mean_word_len,
        |    len(list_filter(list_distinct(toks),
        |      x -> x IN ('the', 'a', 'data', 'table'))) AS stop_hits,
        |    len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) / len(toks) AS alpha_frac,
        |    len(regexp_extract_all(text, '#|\.\.\.')) / len(toks) AS symbol_ratio,
        |    len(lines) AS n_lines,
        |    1.0 - len(list_distinct(lines)) / len(lines) AS dup_line_frac,
        |    len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) / len(lines) AS bullet_line_frac,
        |    len(list_filter(lines, l -> l LIKE '%...')) / len(lines) AS ellipsis_line_frac
        |  FROM t),
        |m AS (
        |  SELECT b.*, p.top2_frac, p.top3_frac, p.top4_frac, p.dup5_frac, p.dup6_frac,
        |    p.dup7_frac, p.dup8_frac, p.dup9_frac, p.dup10_frac
        |  FROM b JOIN p USING (doc_id)),
        |fl AS (
        |  SELECT (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END) AS f1,
        |    (CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0 THEN 1 ELSE 0 END) AS f2,
        |    (CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END) AS f3,
        |    (CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END) AS f4,
        |    (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END) AS f5,
        |    (CASE WHEN bullet_line_frac <= 0.1 THEN 1 ELSE 0 END) AS f6,
        |    (CASE WHEN ellipsis_line_frac <= 0.3 THEN 1 ELSE 0 END) AS f7,
        |    (CASE WHEN dup_line_frac <= 0.3 THEN 1 ELSE 0 END) AS f8,
        |    (CASE WHEN top2_frac <= 0.20 THEN 1 ELSE 0 END) AS f9,
        |    (CASE WHEN top3_frac <= 0.18 THEN 1 ELSE 0 END) AS f10,
        |    (CASE WHEN top4_frac <= 0.16 THEN 1 ELSE 0 END) AS f11,
        |    (CASE WHEN dup5_frac <= 0.15 THEN 1 ELSE 0 END) AS f12,
        |    (CASE WHEN dup6_frac <= 0.14 THEN 1 ELSE 0 END) AS f13,
        |    (CASE WHEN dup7_frac <= 0.13 THEN 1 ELSE 0 END) AS f14,
        |    (CASE WHEN dup8_frac <= 0.12 THEN 1 ELSE 0 END) AS f15,
        |    (CASE WHEN dup9_frac <= 0.11 THEN 1 ELSE 0 END) AS f16,
        |    (CASE WHEN dup10_frac <= 0.10 THEN 1 ELSE 0 END) AS f17
        |  FROM m),
        |cum AS (
        |  SELECT f1 AS c1,
        |    f1*f2 AS c2,
        |    f1*f2*f3 AS c3,
        |    f1*f2*f3*f4 AS c4,
        |    f1*f2*f3*f4*f5 AS c5,
        |    f1*f2*f3*f4*f5*f6 AS c6,
        |    f1*f2*f3*f4*f5*f6*f7 AS c7,
        |    f1*f2*f3*f4*f5*f6*f7*f8 AS c8,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9 AS c9,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10 AS c10,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11 AS c11,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12 AS c12,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12*f13 AS c13,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12*f13*f14 AS c14,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12*f13*f14*f15 AS c15,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12*f13*f14*f15*f16 AS c16,
        |    f1*f2*f3*f4*f5*f6*f7*f8*f9*f10*f11*f12*f13*f14*f15*f16*f17 AS c17
        |  FROM fl),
        |agg AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_docs,
        |    CAST(sum(c1) AS BIGINT) AS s1,
        |    CAST(sum(c2) AS BIGINT) AS s2,
        |    CAST(sum(c3) AS BIGINT) AS s3,
        |    CAST(sum(c4) AS BIGINT) AS s4,
        |    CAST(sum(c5) AS BIGINT) AS s5,
        |    CAST(sum(c6) AS BIGINT) AS s6,
        |    CAST(sum(c7) AS BIGINT) AS s7,
        |    CAST(sum(c8) AS BIGINT) AS s8,
        |    CAST(sum(c9) AS BIGINT) AS s9,
        |    CAST(sum(c10) AS BIGINT) AS s10,
        |    CAST(sum(c11) AS BIGINT) AS s11,
        |    CAST(sum(c12) AS BIGINT) AS s12,
        |    CAST(sum(c13) AS BIGINT) AS s13,
        |    CAST(sum(c14) AS BIGINT) AS s14,
        |    CAST(sum(c15) AS BIGINT) AS s15,
        |    CAST(sum(c16) AS BIGINT) AS s16,
        |    CAST(sum(c17) AS BIGINT) AS s17
        |  FROM cum)
        |SELECT stage, rule, n_in, n_out, n_in - n_out AS n_dropped FROM (
        |  SELECT unnest([
        |    {'stage': 1, 'rule': 'r_word_count', 'n_in': n_docs, 'n_out': s1},
        |    {'stage': 2, 'rule': 'r_mean_word_len', 'n_in': s1, 'n_out': s2},
        |    {'stage': 3, 'rule': 'r_symbol_ratio', 'n_in': s2, 'n_out': s3},
        |    {'stage': 4, 'rule': 'r_alpha_words', 'n_in': s3, 'n_out': s4},
        |    {'stage': 5, 'rule': 'r_stop_words', 'n_in': s4, 'n_out': s5},
        |    {'stage': 6, 'rule': 'r_bullet_lines', 'n_in': s5, 'n_out': s6},
        |    {'stage': 7, 'rule': 'r_ellipsis_lines', 'n_in': s6, 'n_out': s7},
        |    {'stage': 8, 'rule': 'r_dup_lines', 'n_in': s7, 'n_out': s8},
        |    {'stage': 9, 'rule': 'r_top2', 'n_in': s8, 'n_out': s9},
        |    {'stage': 10, 'rule': 'r_top3', 'n_in': s9, 'n_out': s10},
        |    {'stage': 11, 'rule': 'r_top4', 'n_in': s10, 'n_out': s11},
        |    {'stage': 12, 'rule': 'r_dup5', 'n_in': s11, 'n_out': s12},
        |    {'stage': 13, 'rule': 'r_dup6', 'n_in': s12, 'n_out': s13},
        |    {'stage': 14, 'rule': 'r_dup7', 'n_in': s13, 'n_out': s14},
        |    {'stage': 15, 'rule': 'r_dup8', 'n_in': s14, 'n_out': s15},
        |    {'stage': 16, 'rule': 'r_dup9', 'n_in': s15, 'n_out': s16},
        |    {'stage': 17, 'rule': 'r_dup10', 'n_in': s16, 'n_out': s17}], recursive := true)
        |  FROM agg)
        |ORDER BY stage""".stripMargin),
    QuerySpec("q121_vocab_oov", q121VocabOov,
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |v AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS cnt FROM t GROUP BY tok
        |    ORDER BY cnt DESC, tok LIMIT 20)),
        |pd AS (
        |  SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov
        |  FROM t LEFT JOIN v ON t.tok = v.tok
        |  GROUP BY t.doc_id),
        |g AS (
        |  SELECT 20 AS vocab_size,
        |    round(1.0 - CAST(sum(n_oov) AS DOUBLE) / sum(n_tokens), 6) AS coverage
        |  FROM pd)
        |SELECT doc_id, n_tokens, n_oov, CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate,
        |  vocab_size, coverage
        |FROM pd CROSS JOIN g
        |ORDER BY doc_id""".stripMargin),
    // split restated via the md5-bucket idiom; pure exact shingle join
    // (bloom is an engine-side accelerator with no false negatives)
    QuerySpec("q122_decontaminate", q122Decontaminate,
      """WITH base AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents),
        |bench AS (SELECT doc_id, text FROM base WHERE bucket >= 90),
        |trainbase AS (SELECT doc_id, text FROM base WHERE bucket < 90),
        |planted AS (
        |  SELECT doc_id + 10000000 AS doc_id, text FROM (
        |    SELECT doc_id, text FROM bench
        |    WHERE len(string_split_regex(lower(trim(text)), '\s+')) >= 13
        |    ORDER BY doc_id LIMIT 3)),
        |train AS (SELECT * FROM trainbase UNION ALL SELECT * FROM planted),
        |tsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(t) - 12, 0)),
        |    i -> array_to_string(t[i+1:i+13], ' ')))) AS shingle
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM train)),
        |bsh AS (
        |  SELECT doc_id AS bench_doc, unnest(list_distinct(list_transform(
        |    range(0, greatest(len(t) - 12, 0)),
        |    i -> array_to_string(t[i+1:i+13], ' ')))) AS shingle
        |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM bench)),
        |ex AS (
        |  SELECT doc_id, CAST(count(DISTINCT bench_doc) AS BIGINT) AS n_bench_docs,
        |    CAST(max(shared) AS BIGINT) AS max_shared
        |  FROM (SELECT t.doc_id, b.bench_doc, count(*) AS shared
        |        FROM tsh t JOIN bsh b USING (shingle) GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |rep AS (
        |  SELECT tr.doc_id,
        |    coalesce(ex.n_bench_docs, 0) AS n_bench_docs,
        |    coalesce(ex.max_shared, 0) AS max_shared,
        |    CASE WHEN coalesce(ex.n_bench_docs, 0) > 0 THEN 1 ELSE 0 END AS contaminated
        |  FROM train tr LEFT JOIN ex USING (doc_id)),
        |g AS (SELECT CAST(sum(contaminated) AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN doc_id >= 10000000 THEN contaminated END) AS BIGINT) AS n_planted_dropped
        |  FROM rep)
        |SELECT doc_id, contaminated, n_bench_docs, max_shared, n_dropped, n_planted_dropped
        |FROM rep CROSS JOIN g ORDER BY doc_id""".stripMargin),
    // batch restatement of the streaming window aggregation: epoch
    // arithmetic window starts, exact long sums, ratio-of-sums means
    QuerySpec("q123_stream_quality", q123StreamQualityMonitor,
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    1704067200 + doc_id * 60 AS ep
        |  FROM documents),
        |m AS (
        |  SELECT lang, ep // 600 * 600 AS wstart,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS n_tokchars
        |  FROM t)
        |SELECT strftime(to_timestamp(wstart), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) FILTER (WHERE n_words < 50) AS BIGINT) AS n_short,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words,
        |  round(CAST(sum(n_tokchars) AS DOUBLE) / sum(n_words), 4) AS avg_word_len
        |FROM m GROUP BY wstart, lang
        |ORDER BY window_start, lang""".stripMargin),
    // gaps-and-islands restatement of the SCD2 run collapse; both
    // sides order by microsecond-floored ts (Tables.events floors
    // parquet NANOS to Spark's native microsecond precision)
    QuerySpec("q124_scd2", q124Scd2,
      """WITH e AS (
        |  SELECT user_id, event_type, date_trunc('microseconds', ts) AS ts, event_id
        |  FROM events),
        |o AS (
        |  SELECT user_id, event_type, ts,
        |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg,
        |    event_id
        |  FROM e),
        |r AS (
        |  SELECT user_id, event_type, ts,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS version
        |  FROM o),
        |c AS (
        |  SELECT user_id, version, event_type, min(ts) AS vf,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM r GROUP BY 1, 2, 3)
        |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
        |  strftime(date_trunc('second', vf), '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  n_rows,
        |  coalesce(strftime(date_trunc('second',
        |    lead(vf) OVER (PARTITION BY user_id ORDER BY version)),
        |    '%Y-%m-%d %H:%M:%S'), '') AS valid_to,
        |  CASE WHEN lead(vf) OVER (PARTITION BY user_id ORDER BY version) IS NULL
        |       THEN 1 ELSE 0 END AS is_current
        |FROM c ORDER BY user_id, version""".stripMargin),
    // same derived new-snapshot recipe, fingerprints via md5 over
    // chr(1)-joined content with chr(2) null placeholders (the
    // Curation.snapshotDiff separators)
    QuerySpec("q125_snapshot_diff", q125SnapshotDiff,
      """WITH old AS (SELECT doc_id, text, lang FROM documents),
        |added AS (
        |  SELECT doc_id + 10000000 AS doc_id, text, lang
        |  FROM (SELECT * FROM old ORDER BY doc_id LIMIT 5)),
        |new_snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 4 THEN text || ' [rev2]' ELSE text END AS text,
        |    lang
        |  FROM old WHERE doc_id % 10 <> 3
        |  UNION ALL SELECT * FROM added),
        |ofp AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(text, chr(2)), coalesce(lang, chr(2)))) AS old_fp FROM old),
        |nfp AS (SELECT doc_id, md5(concat_ws(chr(1),
        |    coalesce(text, chr(2)), coalesce(lang, chr(2)))) AS new_fp FROM new_snap),
        |j AS (
        |  SELECT doc_id,
        |    CASE WHEN o.old_fp IS NULL THEN 'added'
        |         WHEN n.new_fp IS NULL THEN 'removed'
        |         WHEN o.old_fp <> n.new_fp THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    coalesce(o.old_fp, '') AS old_fp,
        |    coalesce(n.new_fp, '') AS new_fp
        |  FROM ofp o FULL OUTER JOIN nfp n USING (doc_id))
        |SELECT doc_id, status, old_fp, new_fp FROM j
        |WHERE status <> 'unchanged' ORDER BY doc_id""".stripMargin)
  )

  /** Shared by q91 (inline index build) and q102 (persisted index):
    * the from-index path must reproduce the inline ranking bit for
    * bit, so both hash against the same SQL. */
  private lazy val Bm25OracleSql: String =
    """WITH q(query_id, query_text) AS (VALUES
      |    (CAST(0 AS BIGINT), 'scan filter merge'),
      |    (CAST(1 AS BIGINT), 'hash join'),
      |    (CAST(2 AS BIGINT), 'stream window batch')),
      |qt AS (SELECT query_id,
      |    unnest(list_distinct(string_split_regex(lower(trim(query_text)), '\s+'))) AS term
      |  FROM q),
      |toks AS (SELECT doc_id,
      |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |cs AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT t.doc_id, t.term, count(*) AS tf
      |  FROM toks t JOIN (SELECT DISTINCT term FROM qt) u USING (term)
      |  GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |scored AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    sum( ln(1 + (cs.n_docs - df.df + 0.5) / (df.df + 0.5))
      |       * (tf.tf * 2.2)
      |       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / cs.avgdl)) ) AS score,
      |    count(*) AS n_terms_matched
      |  FROM tf
      |  JOIN df USING (term)
      |  JOIN dl USING (doc_id)
      |  CROSS JOIN cs
      |  JOIN qt USING (term)
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY round(score, 6) DESC, doc_id) AS INT) AS rank,
      |  round(score, 6) AS score, n_terms_matched
      |FROM scored
      |QUALIFY rank <= 10
      |ORDER BY query_id, rank""".stripMargin
}
