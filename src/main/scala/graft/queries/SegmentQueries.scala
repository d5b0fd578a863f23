package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Changepoint, Curation, Dedup, EntityRes, Eval, Experiment, Intervals, Profile, Quantiles, Rfm, Skyline, StatTests}
import graft.sources.Tables
import graft.plans.Pin

/** Round-7 sixth/seventh tranches — segmentation, shortlist, and
  * normalization operators: RFM quintile scoring (the scale-safe
  * ntile replacement), blocked fuzzy entity resolution, the 2-D
  * Pareto frontier, the decile lift table, the per-row CDF transform,
  * and asymmetric shingle containment. All FULL hash oracles; q198's
  * oracle is the brute-force NOT-EXISTS dominance definition itself,
  * so the hash match proves the running-max identity, not just a
  * shared rewrite. */
object SegmentQueries {

  /** RFM customer segmentation over orders ([[Rfm.scores]]): quintile
    * cut values from the exact two-phase histogram (never an
    * unpartitioned ntile window), integer-exact metrics (day diff,
    * count, cents), deterministic segment labels. */
  def q196Rfm(s: SparkSession, d: String): DataFrame =
    Rfm.scores(Tables.orders(s, d), "o_custkey", "o_orderdate", "o_totalprice")

  /** Blocked fuzzy entity resolution over part names
    * ([[EntityRes.fuzzyNameMatches]]): distinct-name collapse → head-
    * noun blocking → within-block Levenshtein ≤ 2. */
  def q197FuzzyEr(s: SparkSession, d: String): DataFrame =
    EntityRes.fuzzyNameMatches(Tables.part(s, d), "p_name", maxDist = 2)

  /** Cheapest-biggest part shortlist ([[Skyline.paretoFrontier2D]]):
    * parts on the (minimize retail price, maximize size) frontier via
    * the per-price running-max identity — one group-by shuffle plus a
    * distinct-value window, no all-pairs join. */
  def q198Skyline(s: SparkSession, d: String): DataFrame =
    Skyline.paretoFrontier2D(
      Tables.part(s, d).select("p_partkey", "p_name", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .select("p_partkey", "p_name", "p_retailprice", "p_size")
      .orderBy("p_partkey")

  /** Decile lift table of account balance as a predictor of the
    * BUILDING market segment ([[Eval.liftTable]]) — chance-level on
    * real data by construction (the q180 no-signal discipline: lift ≈
    * 1 everywhere; the discriminative path is proven on planted
    * fixtures in EvalSpec). */
  def q199Lift(s: SparkSession, d: String): DataFrame =
    Eval.liftTable(
      Tables.customer(s, d)
        .filter(col("c_mktsegment").isNotNull)
        .withColumn("label", (col("c_mktsegment") === "BUILDING").cast("int")),
      "c_acctbal", "label", nBuckets = 10)

  /** Per-event CDF transform of value within event type
    * ([[StatTests.cdfTransform]]): rank-based feature normalization
    * (the QuantileTransformer shape) on the value-histogram primitive
    * — no row-scale rank window. */
  def q200CdfTransform(s: SparkSession, d: String): DataFrame =
    StatTests.cdfTransform(Tables.events(s, d), "value",
      Seq("event_type"), Seq("event_id"))
      .orderBy("event_id")

  /** Asymmetric shingle-containment pairs over documents
    * ([[Dedup.containmentPairs]], τ = 0.2): catches doc-in-doc
    * inclusion that symmetric Jaccard (q33) dilutes — at sf0.01 this
    * surfaces the 25 planted full-duplicate pairs PLUS the partial-
    * overlap tail Jaccard ≥ 0.3 misses. */
  def q201Containment(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, d), threshold = 0.2)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("shared"),
        round(col("containment"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")

  /** Class-balanced corpus downsample by language
    * ([[Curation.classBalancedSample]]): every language cut to the
    * minority language's size by hash rank — the skewed-label
    * rebalancing move, deterministic and engine-stable. */
  def q202Balanced(s: SparkSession, d: String): DataFrame =
    Curation.classBalancedSample(Tables.documents(s, d), "doc_id", "lang")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Deterministic negative sampling over the (customer, part)
    * purchase matrix ([[Curation.negativeSamples]], k = 3):
    * md5-indexed draws from the 2000-part vocabulary, observed
    * purchases excluded by anti-join. (The events matrix is the wrong
    * substrate: with a 5-item vocabulary every heavy user has touched
    * every item, so the exclusion correctly empties the sample —
    * negative sampling presumes a sparse interaction matrix.) */
  def q203NegSampling(s: SparkSession, d: String): DataFrame = {
    val purchases = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select("o_custkey", "l_partkey")
    Curation.negativeSamples(purchases, "o_custkey", "l_partkey", k = 3)
      .select(col("entity").as("o_custkey"), col("draw"),
        col("item").as("l_partkey"))
  }

  /** Covariate balance audit of the q153 md5 arm assignment
    * ([[Experiment.covariateBalance]]): SMD per per-user covariate
    * (event count, rounded value total, distinct types). Balanced by
    * construction on a hash assignment (the q180 no-signal
    * discipline); the imbalance path is proven on a planted biased
    * assignment in the spec. */
  def q204CovariateBalance(s: SparkSession, d: String): DataFrame = {
    val units = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(round(sum("value"), 6).as("value_sum"),
        count(lit(1)).cast("double").as("n_events"),
        countDistinct("event_type").cast("double").as("n_types"))
      .withColumn("arm", pmod(
        conv(substring(md5(col("user_id").cast("string")), 1, 6), 16, 10).cast("long"),
        lit(2L)).cast("int"))
    Experiment.covariateBalance(units, "arm",
      Seq("value_sum", "n_events", "n_types"))
  }

  /** Canonical survivor per near-dup cluster
    * ([[Dedup.canonicalPerCluster]], τ = 0.8 over q61's clusters):
    * keep the longest member (n_chars as the quality signal), ties →
    * lowest id — the election step between clustering and removal. */
  def q205Canonical(s: SparkSession, d: String): DataFrame =
    Dedup.canonicalPerCluster(Tables.documents(s, d), "n_chars",
      threshold = 0.8)

  /** Packing-efficiency audit at context budget 128
    * ([[Curation.packingAudit]]): padding/overflow/efficiency of the
    * truncate / chunk / concat policies from ONE length aggregate —
    * the plan-before-you-pack readout. */
  def q206PackingAudit(s: SparkSession, d: String): DataFrame =
    Curation.packingAudit(Tables.documents(s, d),
      size(graft.functions.TextFunctions.tokens("text")), budget = 128)

  /** The nightly corpus refresh, end to end ([[Dedup.corpusRefresh]]):
    * snapshot diff → delta-only exact near-dup (τ = 0.5) → connected
    * components → best-quality survivor election (quality =
    * text length, ties → lowest id) → removal. Same synthetic revision
    * as q130 (`%10=3` removed, `%10=4` revised, 5 lowest re-added
    * under shifted ids); the oracle is the FULL-REBUILD pipeline
    * restricted to delta-touching pairs — revised docs beat their
    * unrevised duplicates on length, re-added docs tie and lose to
    * the original's lower id. */
  def q207CorpusRefresh(s: SparkSession, d: String): DataFrame = {
    val old = Tables.documents(s, d).select("doc_id", "text", "lang")
    val added = old.orderBy("doc_id").limit(5)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("lang"))
    val neu = old.filter(pmod(col("doc_id"), lit(10)) =!= 3)
      .withColumn("text", when(pmod(col("doc_id"), lit(10)) === 4,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
      .unionByName(added)
    Dedup.corpusRefresh(old, neu, quality = length(col("text")),
        threshold = 0.5)
      .select(col("doc_id"), col("lang"), length(col("text")).as("text_len"))
      .orderBy("doc_id")
  }

  /** Exact per-group mode ([[Profile.modeByGroup]]): the most frequent
    * order priority per order status, ties → smallest value — the
    * scalar-stat family's missing member, on the q205 argmax
    * discipline (cell aggregate → max count → equality filter → min
    * value; no window). */
  def q208Mode(s: SparkSession, d: String): DataFrame =
    Profile.modeByGroup(Tables.orders(s, d), Seq("o_orderstatus"),
      "o_orderpriority")

  /** Interval-overlap join ([[Intervals.overlapJoin]], 1 h grid):
    * purchases-during-browsing — per (user, day), the day's view
    * activity window [first, last view] overlap-joined with its
    * purchase window, epoch-micros bounds, composite (user, day) key.
    * The oracle is the PLAIN overlap join (q131 proof shape: the
    * bucket grid and canonical-bucket dedup must change the schedule,
    * never the answer). */
  def q209OverlapJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def win(t: String, p: String): DataFrame =
      ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(unix_micros(min(col("ts"))).as(s"${p}_start"),
          unix_micros(max(col("ts"))).as(s"${p}_end"),
          count(lit(1)).as(s"${p}_events"))
    Intervals.overlapJoin(win("view", "v"), win("purchase", "p"),
        Seq("user_id", "day"), "v_start", "v_end", "p_start", "p_end",
        bucketWidth = 3600L * 1000000L)
      .select(col("user_id"), col("day"),
        col("v_events"), col("p_events"),
        col("overlap_start"), col("overlap_end"),
        round((col("overlap_end") - col("overlap_start")) / lit(1e6), 3)
          .as("overlap_sec"))
      .orderBy("user_id", "day")
  }

  /** Jaro–Winkler name linkage over part names
    * ([[EntityRes.jaroWinklerMatches]], τ = 0.9): the q197 blocking
    * with the prefix-weighted similarity record linkage defaults to
    * for names — native `jaro_winkler` expression (Spark has no
    * builtin), DuckDB oracle via its `jaro_winkler_similarity`
    * (semantics matched incl. the 0.7 boost gate; both sides compare
    * the score rounded at 4). */
  def q210JaroLinkage(s: SparkSession, d: String): DataFrame =
    EntityRes.jaroWinklerMatches(Tables.part(s, d), "p_name", threshold = 0.9)

  /** Corpus datasheet card ([[Curation.corpusCard]]): the one-frame
    * "Datasheets for Datasets" summary — totals, per-lang/source
    * counts, exact length quantiles, exact-duplicate accounting —
    * every section an aggregate over one shared checkpointed
    * projection. Long (section, key, value) schema. */
  def q211CorpusCard(s: SparkSession, d: String): DataFrame =
    Curation.corpusCard(Tables.documents(s, d), "text", Seq("lang", "source"))

  /** Exact single changepoint per event-type daily series
    * ([[Changepoint.singleChangepoint]]): the split maximizing the
    * two-segment SSE reduction, integer-cents prefix sums so the
    * argmax is engine-exact. q158's CUSUM flags drift; this locates
    * it. */
  def q212Changepoint(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value"), 2).as("daily_value"))
    Changepoint.singleChangepoint(daily, "event_type", "day", "daily_value")
  }

  /** Zipf's-law fit over the top-1000 vocabulary
    * ([[graft.operators.TextSearch.zipfFit]]): log-log OLS slope /
    * intercept / r² + top-1 token share — the corpus-health law a
    * dataset audit plots before training. */
  def q213Zipf(s: SparkSession, d: String): DataFrame =
    graft.operators.TextSearch.zipfFit(Tables.documents(s, d), topK = 1000)

  /** Hill tail-index estimate of the per-user activity distribution
    * ([[graft.operators.RobustStats.hillTailIndex]]): per event type,
    * the top-100 user degrees feed α̂ = 1 + (k−1)/Σᵢ ln(dᵢ/d₍ₖ₎) plus
    * the top-k share of all events — q213 fits the Zipf law to token
    * ranks, this fits the TAIL to a key-degree distribution (the
    * "does this key need skew handling" audit). Full hash oracle: the
    * naive per-type degree sort; the ordered list_reduce folds the
    * SAME ln terms in the SAME rank order as the engine's in-row
    * array fold, leaving libm ln noise under round(·, 4) as the only
    * residual (house class, cf. q213/q182). */
  def q296TailIndex(s: SparkSession, d: String): DataFrame =
    graft.operators.RobustStats.hillTailIndex(s,
        Tables.events(s, d).select("event_type", "user_id"),
        "event_type", "user_id", k = 100)
      .withColumnRenamed("n_keys", "n_users")
      .withColumnRenamed("total_rows", "total_events")

  /** Log-rank test between hash arms on time-to-first-error
    * ([[graft.operators.Survival.logRankTest]], q160's substrate split
    * by the q153 md5 arm): O/E per arm + the 2-group χ² in-row —
    * null-by-construction on a hash split (the q180 no-signal
    * discipline); the separated path is spec-proven. */
  def q214LogRank(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val span = e.groupBy("user_id")
      .agg(min("day").as("first_day"), max("day").as("last_day"))
    val firstErr = e.where(col("event_type") === "error")
      .groupBy("user_id").agg(min("day").as("err_day"))
    val units = span.join(firstErr, Seq("user_id"), "left")
      .select(
        pmod(conv(substring(md5(col("user_id").cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(2L)).cast("int").as("arm"),
        when(col("err_day").isNotNull, datediff(col("err_day"), col("first_day")))
          .otherwise(datediff(col("last_day"), col("first_day")))
          .cast("long").as("duration"),
        col("err_day").isNotNull.cast("int").as("errored"))
    graft.operators.Survival.logRankTest(units, "duration", "errored", "arm")
  }

  /** Water-filling token-budget allocation across sources
    * ([[Curation.waterFillAllocation]]): 60% global budget, integer
    * weights cycling 1–4 by source index so heavy-weighted small
    * sources SATURATE while the rest split by weight — the mix
    * planning step in front of q115/q113, integer-exact end to end. */
  def q215WaterFill(s: SparkSession, d: String): DataFrame = {
    val avail = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(graft.functions.TextFunctions.tokens("text")))
        .cast("long").as("avail_tokens"))
      .withColumn("wt",
        pmod(regexp_extract(col("source"), "([0-9]+)", 1).cast("long"),
          lit(4L)) + 1L)
    val budget = avail.agg(floor(sum("avail_tokens") * 0.6).cast("long")
      .as("budget"))
    Curation.waterFillAllocation(avail, "source", "avail_tokens", "wt", budget)
  }

  /** Partition-key advisor over lineitem
    * ([[graft.operators.Layout.partitionAdvisor]]): ship date vs ship
    * month vs return flag vs a 64-bucket orderkey hash — partition
    * counts, balance, skew, and small-partition exposure per
    * candidate, the numbers that pick a table layout. */
  def q216PartitionAdvisor(s: SparkSession, d: String): DataFrame =
    graft.operators.Layout.partitionAdvisor(Tables.lineitem(s, d), Seq(
      "1_ship_date" -> to_date(col("l_shipdate")).cast("string"),
      "2_ship_month" -> date_format(col("l_shipdate"), "yyyy-MM"),
      "3_returnflag" -> col("l_returnflag"),
      "4_orderkey_hash64" -> pmod(
        conv(substring(md5(col("l_orderkey").cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(64L))), smallRows = 1000L)

  /** Embedding-space geometry audit
    * ([[graft.operators.Embeddings.cosineHistogram]]): the pairwise
    * cosine distribution on a deterministic rank-offset pair sample
    * (never n²) — anisotropy/collapse detection before any ANN or
    * semantic-dedup run trusts the space. */
  def q217CosineHistogram(s: SparkSession, d: String): DataFrame =
    graft.operators.Embeddings.cosineHistogram(s, Tables.embeddings(s, d))

  /** The end-to-end curation funnel ([[Curation.curationFunnel]]):
    * split → quality → exact dedup → 13-gram decontamination → token
    * budget, per-stage docs/tokens — the attrition table a corpus
    * release ships, every stage individually oracled elsewhere and
    * the composition hash-checked here. */
  def q218CurationFunnel(s: SparkSession, d: String): DataFrame =
    Curation.curationFunnel(Tables.documents(s, d))

  /** Markov next-event backtest
    * ([[graft.operators.Sequences.markovBacktest]]): fit the q147
    * transition argmax on md5-split train users, score held-out test
    * transitions — the validated-predictor loop, exact integer
    * accounting with unrounded exact-ratio accuracies. */
  def q219MarkovBacktest(s: SparkSession, d: String): DataFrame =
    graft.operators.Sequences.markovBacktest(Tables.events(s, d),
      keyCol = "user_id", tsCol = "ts", stateCol = "event_type",
      tieCol = "event_id")

  /** Brier-score Murphy decomposition ([[Eval.brierDecomposition]]):
    * min-max-normalized account balance as a probability forecast of
    * the BUILDING segment — chance-level by construction (the q180
    * no-signal discipline: resolution ≈ 0, reliability ≈ the
    * miscalibration of a uniform score); the discriminative path is
    * spec-proven on a planted calibrated forecast. */
  def q220Brier(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_mktsegment").isNotNull &&
      col("c_acctbal").isNotNull)
    val mm = c.agg(min("c_acctbal").as("__lo"), max("c_acctbal").as("__hi"))
    val scored = c.crossJoin(broadcast(mm))
      .select(
        ((col("c_acctbal") - col("__lo")) / (col("__hi") - col("__lo")))
          .as("prob"),
        (col("c_mktsegment") === "BUILDING").cast("int").as("label"))
    Eval.brierDecomposition(scored, "prob", "label", nBins = 10)
  }

  /** Heaps'-law vocabulary-growth fit
    * ([[graft.operators.TextSearch.heapsFit]]): V(N) at ten exact
    * doc-id quantile prefixes + the log-log OLS (β, ln K, r²) in-row —
    * q213's companion corpus law, with no corpus-ordered spine (the
    * prefixes come from the two-phase quantile machinery). */
  def q221Heaps(s: SparkSession, d: String): DataFrame =
    graft.operators.TextSearch.heapsFit(Tables.documents(s, d))

  /** JSON payload schema profile ([[Profile.jsonProfile]]) over event
    * props ∪ planted heterogeneous/malformed docs (q67 pattern — the
    * real column is single-key, so the multi-key, boolean, float, and
    * parse-failure paths are all exercised in-query). */
  def q222JsonProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, """{"k": 5, "tag": "alpha", "flag": true}"""),
      (-2L, """{"tag": "beta", "ratio": 0.5}"""),
      (-3L, "not json"))
      .toDF("event_id", "props")
    val all = Tables.events(s, d).select("event_id", "props")
      .unionByName(planted)
    Profile.jsonProfile(all, "props")
  }

  /** Pareto contribution cut over part revenue — "the smallest part
    * set covering 80% of revenue" — as a COMPOSITION of the q113
    * bucketed budget cut (never an unpartitioned cumsum): scores are
    * max-normalized revenue, tokens are exact revenue cents, budget =
    * 80% of total cents. Output: surviving parts with their cumulative
    * cents, plus in-row coverage stats. */
  def q223Pareto(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100)).cast("long")
        .as("rev_cents"))
      .transform(Pin.lazily) // feeds the minmax, the cut, and the stats
    val mm = rev.agg(max("rev_cents").as("__mx"),
      sum("rev_cents").as("__tot"),
      floor(sum("rev_cents") * 0.8).cast("long").as("__b"),
      count(lit(1)).as("__nparts"))
    val cut = Curation.tokenBudgetCut(
      rev.crossJoin(broadcast(mm)),
      score = col("rev_cents") / col("__mx"),
      tieBreak = col("l_partkey"),
      nTokens = col("rev_cents"),
      budgetTokens = col("__b"))
    val kept = cut.agg(count(lit(1)).as("__nkept"),
      sum("rev_cents").as("__kc"))
    cut.crossJoin(broadcast(kept))
      .select(col("l_partkey"), col("rev_cents"), col("cum_tokens"),
        col("__nkept").as("n_parts_kept"), col("__nparts").as("n_parts_total"),
        (col("__kc") / col("__tot")).as("covered_share"))
      .orderBy("l_partkey")
  }

  /** Pre-join skew audit ([[graft.operators.SkewJoin.skewReport]])
    * for the events self-join on user_id: per heavy key both sides'
    * counts and the output blow-up, with the top-1 reducer share
    * in-row — the diagnosis that decides plain vs salted (q131) vs
    * broadcast. */
  def q224SkewReport(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select("user_id", "event_id")
    graft.operators.SkewJoin.skewReport(ev, ev, Seq("user_id"), topN = 20)
  }

  /** Transition dwell times: per (state → next) of the q147 matrix,
    * the count, mean, and EXACT median inter-event gap
    * ([[Quantiles.exactQuantiles]] grouped by the transition) — "how
    * long from view to purchase", integer-micros gaps end to end. */
  def q225TransitionGaps(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d).filter(col("user_id").isNotNull)
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .withColumn("__gap",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .where(col("__next").isNotNull)
      .select(col("event_type").as("state"), col("__next").as("next_state"),
        col("__gap"))
      .transform(Pin.lazily) // stats + median both read the window pass
    val stats = pairs.groupBy("state", "next_state")
      .agg(count(lit(1)).as("n"),
        (sum("__gap") / count(lit(1)) / 1e6).as("mean_gap_sec"))
    val med = Quantiles.exactQuantiles(pairs, "__gap", Seq(0.5),
        Seq("state", "next_state"), checkpointInput = false)
      .select(col("state"), col("next_state"),
        (col("value") / 1e6).as("p50_gap_sec"))
    stats.join(med, Seq("state", "next_state"))
      .orderBy("state", "next_state")
  }

  /** TTL streaming dedup ([[graft.streaming.StreamingOps
    * .dedupStreamTtl]], `dropDuplicatesWithinWatermark`, 1-day TTL)
    * driven through a 3-batch staged timeline (`maxFilesPerTrigger`
    * 1, mtime-ordered files): batch 2 re-delivers a fingerprint
    * WITHIN the TTL (must drop) and pushes the watermark 10 days out;
    * batch 3 re-delivers the same fingerprint AFTER state expiry
    * (must land again). Both TTL paths are therefore forced and the
    * oracle states the exact surviving (doc_id, fingerprint) set —
    * the bounded-state semantics q71's NoTimeout dedup cannot offer. */
  def q226StreamDedupTtl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.streaming.StreamingOps
    def ts(off: Long) = new java.sql.Timestamp((1704067200L + off) * 1000L)
    val day = 86400L
    val f1 = Seq((1L, "alpha beta gamma", ts(0L)),
      (2L, "delta epsilon zeta", ts(60L)))
    val f2 = Seq((100L, "watermark pusher text", ts(10 * day)),
      (3L, "alpha beta gamma", ts(3600L))) // within TTL → dropped
    // state eviction runs at batch END (after that batch's dedup
    // checks), so the post-expiry re-delivery needs its own batch
    // AFTER one that ran with the advanced watermark — the spacer
    val f3 = Seq((101L, "second pusher text", ts(10 * day + 60L)))
    val f4 = Seq((4L, "alpha beta gamma", ts(9 * day + 3600L)), // post-expiry → lands
      (5L, "omega psi chi", ts(9 * day + 7200L)))
    // one file per batch, admitted in batch order
    val batches = Seq(f1, f2, f3, f4).flatMap { rows =>
      val p = graft.Scratch.dir("q226_batch")
      rows.toDF("doc_id", "text", "ts").coalesce(1)
        .write.mode("overwrite").parquet(p.toString)
      StreamingOps.partFiles(p)
    }
    val dir = graft.Scratch.dir("q226")
    StreamingOps.landInOrder(dir,
      batches.zipWithIndex.map { case (f, i) => f -> s"batch$i.parquet" })
    val stream = s.readStream
      .schema("doc_id LONG, text STRING, ts TIMESTAMP")
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    StreamingOps.drain(s, StreamingOps.dedupStreamTtl(stream, "1 day"),
        "graft_stream_dedup_ttl", outputMode = "append").df
      .select(col("doc_id"), col("fingerprint"))
      .orderBy("doc_id")
  }

  /** Local-supplier revenue by nation (the TPC-H Q5 shape): the
    * 6-table join — region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈
    * supplier with the local-supply condition c_nationkey =
    * s_nationkey — over a date window. The multi-join planning
    * showcase: two broadcast dims (region, nation — bounded geography
    * that does NOT grow with volume), two fact shuffles
    * (orders⋈customer on custkey feeding lineitem on orderkey),
    * revenue as exact cents. supplier is deliberately NOT hinted:
    * unlike geography it scales linearly with the fact tables
    * (sf100 ≈ 1 M rows), so a forced broadcast is a driver-memory
    * hazard at scale — AQE picks broadcast at small SF and falls back
    * to a shuffle join past the threshold on its own (r8 verdict
    * item 5). */
  def q227LocalRevenue(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1998-01-01")
    val li = Tables.lineitem(s, d)
    val supp = Tables.supplier(s, d)
    cust
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(ord, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100))
        .cast("long").as("revenue_cents"),
        count(lit(1)).as("n_lineitems"))
      .orderBy(col("revenue_cents").desc, col("n_name"))
  }

  /** Trailing-1-hour RANGE-frame window per user (the event-time
    * range frame the row-frame q48 cannot express: "events in the
    * last hour" regardless of how many rows that is). Sums ride in
    * exact integer cents so the moving-frame aggregation order
    * (sequential vs segment-tree) can never show through. */
  def q228TrailingWindow(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("__us"))
      .rangeBetween(-(hourUs - 1), org.apache.spark.sql.expressions.Window.currentRow)
    Tables.events(s, d).filter(col("user_id").isNotNull)
      .withColumn("__us", unix_micros(col("ts")))
      .withColumn("__cents", round(col("value") * 100).cast("long"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("events_1h"),
        (sum("__cents").over(w) / 100.0).as("value_1h"))
      .orderBy("user_id", "event_id")
  }

  /** Fulfillment lead time by order priority: days from order to each
    * line's ship date — count, exact mean, and EXACT p50/p90 (grouped
    * [[Quantiles.exactQuantiles]]) per priority; integer day gaps end
    * to end. */
  def q229LeadTime(s: SparkSession, d: String): DataFrame = {
    val gaps = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("__days"))
      .filter(col("__days").isNotNull)
      .transform(Pin.lazily) // stats + quantiles both consume the join
    val stats = gaps.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum("__days") / count(lit(1))).as("mean_days"))
    val qs = Quantiles.exactQuantiles(gaps, "__days", Seq(0.5, 0.9),
        Seq("o_orderpriority"), checkpointInput = false)
      .groupBy("o_orderpriority")
      .agg(max(when(col("q") === 0.5, col("value"))).as("p50_days"),
        max(when(col("q") === 0.9, col("value"))).as("p90_days"))
    stats.join(qs, Seq("o_orderpriority")).orderBy("o_orderpriority")
  }

  /** Cross-engine HyperLogLog cardinality rollup ([[graft.operators
    * .Hll.estimateDistinct]], m = 256 registers from the md5 family):
    * distinct parts shipped per month, with the EXACT count and the
    * sketch's relative error in-row — the self-evidencing pattern
    * (q84's n_missed) applied to cardinality estimation. Unlike q62's
    * `approx_count_distinct` (Spark-internal HLL++ bits, rows-only),
    * every register and the scaled-integer harmonic sum here are
    * restated by DuckDB — a FULL hash oracle for a cardinality
    * sketch. */
  def q231HllMd5(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("ship_month", substring(col("l_shipdate").cast("string"), 1, 7))
    val exact = li.groupBy("ship_month")
      .agg(countDistinct("l_partkey").as("n_exact"))
    graft.operators.Hll.estimateDistinct(li, "l_partkey", Seq("ship_month"))
      .join(exact, Seq("ship_month"))
      .withColumn("rel_err",
        round((col("hll_estimate") - col("n_exact")) / col("n_exact"), 4))
      .orderBy("ship_month")
  }

  /** National market share (the TPC-H Q8 shape): NATION_3 suppliers'
    * share of PROMO-part revenue delivered to ASIA-region customers,
    * by order year — the 8-relation join with TWO nation roles
    * (customer geography filters, supplier nationality classifies).
    * Share = conditional-sum / sum over exact cents, one division per
    * year row. Only the bounded dims (region, the two 25-row nation
    * roles) are broadcast-hinted; part, supplier, customer scale with
    * SF and are left to AQE (the q227 discipline). */
  def q232MarketShare(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).filter(col("r_name") === "ASIA")
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val part = Tables.part(s, d).filter(col("p_type") === "PROMO")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1998-01-01")
    Tables.lineitem(s, d)
      .join(part, col("l_partkey") === col("p_partkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
      .withColumn("o_year", year(col("o_orderdate")))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
      .groupBy("o_year")
      .agg(sum(when(col("supp_nation") === "NATION_3", col("cents"))
          .otherwise(0L)).as("nation_cents"),
        sum("cents").as("total_cents"))
      .withColumn("mkt_share", round(col("nation_cents") / col("total_cents"), 6))
      .orderBy("o_year")
  }

  /** Held-out n-gram novelty audit ([[graft.operators.Curation
    * .noveltyReport]], 5-grams): how much of each test-split document
    * already occurs verbatim in the training corpus. A planted pair
    * pins the arithmetic: doc −1 hashes into the train bucket and
    * doc −2 into the test bucket (md5-bucket split), sharing a
    * 12-token span → exactly 8 of the test doc's 12 distinct 5-grams
    * are train-seen, novelty 0.3333; the organic corpus rows
    * quantify template overlap in the synthetic documents. */
  def q233Novelty(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val shared = (1 to 12).map(i => s"nova$i").mkString(" ")
    val planted = Seq(
      (-1L, s"$shared trtail1 trtail2 trtail3"), // bucket 74 → train
      (-2L, s"$shared tstail1 tstail2 tstail3 tstail4")) // bucket 90 → test
      .toDF("doc_id", "text")
    val all = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(planted)
    graft.operators.Curation.noveltyReport(all)
      .orderBy("test_doc")
  }

  /** Mergeable-sketch rollup ([[graft.operators.Hll.registers]] /
    * estimateFromRegisters): a DAILY register table over event users
    * is built once (the persisted cube state — days × ≤256 rows), and
    * both the per-month and the all-time distinct-user estimates are
    * answered from REGISTERS ALONE by max-merge — the non-additive
    * counterpart of q140's additive aggregate merge, and the reason
    * HLL (not exact sets) is the 100 TB cardinality-cube state: any
    * date range collapses to an m-row max, no data re-read. Exact
    * counts and relative error ride in-row; the register table is
    * checkpointed so the plan provably answers from sketch state. */
  def q234HllRollup(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
      .withColumn("day", to_date(col("ts")).cast("string"))
    val regs = graft.operators.Hll.registers(ev, "user_id", Seq("day"))
      .transform(Pin.eager)
    // 10-day buckets ("2024-01-1" = Jan 10..19): a coarsening the
    // day table merges into with several periods even at sf0.01
    val monthly = graft.operators.Hll.estimateFromRegisters(
      regs.withColumn("period", substring(col("day"), 1, 9)), Seq("period"))
    val overall = graft.operators.Hll.estimateFromRegisters(
      regs.withColumn("period", lit("ALL")), Seq("period"))
    val exM = ev.withColumn("period", substring(col("day"), 1, 9))
      .groupBy("period").agg(countDistinct("user_id").as("n_exact"))
    val exAll = ev.agg(countDistinct("user_id").as("n_exact"))
      .withColumn("period", lit("ALL"))
    monthly.unionByName(overall)
      .join(exM.unionByName(exAll), Seq("period"))
      .withColumn("rel_err",
        round((col("hll_estimate") - col("n_exact")) / col("n_exact"), 4))
      .orderBy("period")
  }

  /** Small-quantity revenue by brand (the TPC-H Q17 shape): lines
    * with quantity under 20% of their PART's average quantity — the
    * correlated-scalar-subquery pattern, decorrelated Spark-first
    * into one per-part aggregate joined back (what Catalyst's
    * RewriteCorrelatedScalarSubquery produces, stated directly). The
    * threshold comparison is the ×5 integer form (5·qty < avg):
    * quantities are integer-valued doubles, so the per-part sum is
    * EXACT regardless of partition order and the filter can never
    * flip on a float ulp — the determinism trick that lets an
    * avg-threshold filter be hash-oracled at all. */
  def q235SmallQty(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val avgQ = li.groupBy(col("l_partkey").as("pk"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    li.join(avgQ, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") * 5 < col("avg_qty"))
      .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_small_lines"),
        round(sum("cents") / lit(700.0), 2).as("avg_yearly"))
      .orderBy("p_brand")
  }

  /** Audience-overlap estimation by SKETCH SET ALGEBRA: per-event-type
    * HLL register tables ([[graft.operators.Hll]]) are the ONLY state;
    * each type pair's union audience comes from a register max-merge
    * and the intersection from inclusion–exclusion (|A∩B| = |A| + |B|
    * − |A∪B|) — no user-level pairwise join at query time. This is
    * the 100 TB audience-dashboard shape: K segment sketches (m rows
    * each) answer all K² overlap cells, with the exact intersection
    * joined in-row as truth. Estimate error compounds across three
    * estimates — the honest price of sketch algebra, visible in
    * rel_err. */
  def q236AudienceSketch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).filter(col("user_id").isNotNull)
    val regs = graft.operators.Hll.registers(ev, "user_id", Seq("event_type"))
      .transform(Pin.eager)
    val single = graft.operators.Hll.estimateFromRegisters(regs, Seq("event_type"))
      .select(col("event_type"), col("hll_estimate"))
    val pairs = single.toDF("et_a", "est_a")
      .crossJoin(single.toDF("et_b", "est_b"))
      .filter(col("et_a") < col("et_b"))
    val unionRegs = pairs.select("et_a", "et_b")
      .join(regs.withColumnRenamed("event_type", "__et"),
        col("__et") === col("et_a") || col("__et") === col("et_b"))
      .groupBy("et_a", "et_b", "reg_j").agg(max("reg_m").as("reg_m"))
    val unionEst = graft.operators.Hll
      .estimateFromRegisters(unionRegs, Seq("et_a", "et_b"))
      .select(col("et_a"), col("et_b"), col("hll_estimate").as("est_union"))
    val ue = ev.select("event_type", "user_id").distinct()
    val exact = ue.toDF("et_a", "uid")
      .join(ue.toDF("et_b", "uid2"),
        col("uid") === col("uid2") && col("et_a") < col("et_b"))
      .groupBy("et_a", "et_b").agg(countDistinct("uid").as("n_exact"))
    pairs.join(unionEst, Seq("et_a", "et_b"))
      .withColumn("est_intersection",
        round(col("est_a") + col("est_b") - col("est_union"), 2))
      .join(exact, Seq("et_a", "et_b"))
      .withColumn("rel_err",
        round((col("est_intersection") - col("n_exact")) / col("n_exact"), 4))
      .orderBy("et_a", "et_b")
  }

  /** Shared oracle fragment: exact-quantile band cuts of column
    * `vcol` over CTE `src` — value at rank ceil(q·n) (the
    * exactQuantiles rank rule), one column per cut, emitted as CTEs
    * `{p}n`/`{p}r`/`{p}` so several metrics can restate the SAME rule
    * without hand-copied blocks (any future tie-rule fix lands once). */
  private def cutsSql(nBands: Int, src: String, vcol: String, p: String): String = {
    val sel = (1 until nBands).map { i =>
      val q = i.toDouble / nBands
      s"    max(CASE WHEN rk = CAST(ceil($q * ${p}n.n) AS BIGINT) THEN v END) AS c$i"
    }.mkString(",\n")
    s"""${p}n AS (SELECT count(*) AS n FROM $src),
       |${p}r AS (SELECT $vcol AS v, row_number() OVER (ORDER BY $vcol) AS rk FROM $src),
       |$p AS (
       |  SELECT
       |$sel
       |  FROM ${p}r CROSS JOIN ${p}n)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // three rank-rule cut blocks (recency/frequency/monetary), then
    // row-local band arithmetic — integer metrics end to end
    QuerySpec("q196_rfm", q196Rfm,
      s"""WITH pc AS (
         |  SELECT o_custkey,
         |    max(CAST(o_orderdate AS DATE)) AS last_d,
         |    count(*) AS n_orders,
         |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         |      AS monetary_cents
         |  FROM orders
         |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
         |    AND o_totalprice IS NOT NULL
         |  GROUP BY 1),
         |a AS (SELECT max(last_d) AS anchor FROM pc),
         |m AS (
         |  SELECT pc.*, CAST(date_diff('day', last_d, a.anchor) AS BIGINT)
         |    AS recency_days
         |  FROM pc CROSS JOIN a),
         |${cutsSql(5, "m", "recency_days", "rc")},
         |${cutsSql(5, "m", "n_orders", "fc")},
         |${cutsSql(5, "m", "monetary_cents", "mc")},
         |sc AS (
        |  SELECT m.o_custkey, m.recency_days, m.n_orders, m.monetary_cents,
        |    6 - (1 + (m.recency_days > rc.c1)::INT + (m.recency_days > rc.c2)::INT
        |      + (m.recency_days > rc.c3)::INT + (m.recency_days > rc.c4)::INT) AS r,
        |    1 + (m.n_orders > fc.c1)::INT + (m.n_orders > fc.c2)::INT
        |      + (m.n_orders > fc.c3)::INT + (m.n_orders > fc.c4)::INT AS f,
        |    1 + (m.monetary_cents > mc.c1)::INT + (m.monetary_cents > mc.c2)::INT
        |      + (m.monetary_cents > mc.c3)::INT + (m.monetary_cents > mc.c4)::INT AS mm
        |  FROM m CROSS JOIN rc CROSS JOIN fc CROSS JOIN mc)
        |SELECT o_custkey, recency_days, n_orders, monetary_cents, r, f,
        |  mm AS m,
        |  CASE WHEN r >= 4 AND f >= 4 AND mm >= 4 THEN 'champion'
        |    WHEN r >= 4 AND f <= 2 THEN 'new_or_promising'
        |    WHEN r <= 2 AND f >= 4 THEN 'at_risk'
        |    WHEN r <= 2 AND f <= 2 THEN 'hibernating'
        |    ELSE 'core' END AS segment
        |FROM sc ORDER BY o_custkey""".stripMargin),
    // same normalization, blocking regex, and integer edit distance
    QuerySpec("q197_fuzzy_er", q197FuzzyEr,
      """WITH names AS (
        |  SELECT lower(trim(p_name)) AS name, count(*) AS n_rows
        |  FROM part WHERE p_name IS NOT NULL
        |  GROUP BY 1),
        |b AS (
        |  SELECT name, n_rows, regexp_extract(name, '(\S+)$', 1) AS block
        |  FROM names WHERE name <> '')
        |SELECT a.block, a.name AS name_a, bb.name AS name_b,
        |  levenshtein(a.name, bb.name) AS dist,
        |  a.n_rows AS n_rows_a, bb.n_rows AS n_rows_b
        |FROM b a JOIN b bb ON a.block = bb.block AND a.name < bb.name
        |WHERE levenshtein(a.name, bb.name) <= 2
        |ORDER BY name_a, name_b""".stripMargin),
    // brute-force NOT EXISTS — the dominance DEFINITION, not the
    // engine's rewrite: the hash match proves the running-max identity
    QuerySpec("q198_skyline", q198Skyline,
      """WITH p AS (
        |  SELECT p_partkey, p_name, p_retailprice, p_size FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
        |SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
        |FROM p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_partkey""".stripMargin),
    QuerySpec("q199_lift", q199Lift,
      s"""WITH d AS (
         |  SELECT c_acctbal AS v,
         |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS y
         |  FROM customer
         |  WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL),
         |${cutsSql(10, "d", "v", "c")},
         |band AS (
         |  SELECT 11 - (1 + (v > c.c1)::INT + (v > c.c2)::INT + (v > c.c3)::INT
         |    + (v > c.c4)::INT + (v > c.c5)::INT + (v > c.c6)::INT
         |    + (v > c.c7)::INT + (v > c.c8)::INT + (v > c.c9)::INT) AS bucket, y
         |  FROM d CROSS JOIN c),
         |pb AS (SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
         |  FROM band GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_pos) AS BIGINT) AS tp
         |  FROM pb),
         |cum AS (SELECT pb.*, CAST(sum(n_pos) OVER (ORDER BY bucket
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos
         |  FROM pb)
         |SELECT bucket, n, n_pos,
         |  round(n_pos / (n * 1.0), 6) AS pos_rate,
         |  CASE WHEN t.tp > 0 THEN round(cum_pos / (t.tp * 1.0), 6) END AS capture,
         |  CASE WHEN t.tp > 0 THEN
         |    round((n_pos / (n * 1.0)) / (t.tp / (t.tn * 1.0)), 6) END AS lift
         |FROM cum CROSS JOIN t ORDER BY bucket""".stripMargin),
    // mid-rank empirical CDF restated as the histogram window — exact
    // halves over integer counts, one final division
    QuerySpec("q200_cdf_transform", q200CdfTransform,
      """WITH d AS (
        |  SELECT event_id, event_type, value * 1.0 AS v FROM events
        |  WHERE value IS NOT NULL),
        |h AS (SELECT event_type, v, count(*) AS cnt FROM d GROUP BY 1, 2),
        |h2 AS (SELECT event_type, v,
        |    coalesce(sum(cnt) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      + (cnt + 1) / 2.0 AS ar,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT d.event_id, d.event_type, d.v AS value,
        |  round(h2.ar / h2.n, 6) AS cdf
        |FROM d JOIN h2 ON d.event_type = h2.event_type AND d.v = h2.v
        |ORDER BY d.event_id""".stripMargin),
    // same shingling as the q33 oracle; asymmetric min-denominator
    QuerySpec("q201_containment", q201Containment,
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, sa.n AS na, sb.n AS nb, shared,
        |  round(shared * 1.0 / least(sa.n, sb.n), 4) AS containment
        |FROM cand
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE shared * 1.0 / least(sa.n, sb.n) >= 0.2
        |ORDER BY doc_a, doc_b""".stripMargin),
    // hash-rank per class, k = min class size (the fixedSizeSample
    // rank rule with a data-derived k)
    QuerySpec("q202_balanced_sample", q202Balanced,
      """WITH d AS (
        |  SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
        |cnt AS (SELECT lang, count(*) AS n FROM d GROUP BY 1),
        |nm AS (SELECT min(n) AS k FROM cnt),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM d)
        |SELECT doc_id, lang FROM r CROSS JOIN nm
        |WHERE rk <= nm.k ORDER BY doc_id""".stripMargin),
    // md5-indexed draws into the ranked item vocabulary, positives
    // excluded — the full sampler restated
    QuerySpec("q203_neg_sampling", q203NegSampling,
      """WITH pos AS (
        |  SELECT DISTINCT o.o_custkey, l.l_partkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_custkey IS NOT NULL AND l.l_partkey IS NOT NULL),
        |items AS (
        |  SELECT l_partkey, row_number() OVER (ORDER BY l_partkey) AS rn
        |  FROM (SELECT DISTINCT l_partkey FROM pos)),
        |nn AS (SELECT count(*) AS n FROM items),
        |cands AS (
        |  SELECT p.o_custkey, d.draw,
        |    (('0x' || substr(md5(CAST(p.o_custkey AS VARCHAR) || ':'
        |      || CAST(d.draw AS VARCHAR)), 1, 6))::BIGINT % nn.n) + 1 AS rn
        |  FROM (SELECT DISTINCT o_custkey FROM pos) p
        |  CROSS JOIN (SELECT unnest(range(1, 4)) AS draw) d
        |  CROSS JOIN nn)
        |SELECT c.o_custkey, min(c.draw) AS draw, i.l_partkey
        |FROM cands c JOIN items i ON i.rn = c.rn
        |WHERE NOT EXISTS (SELECT 1 FROM pos
        |  WHERE pos.o_custkey = c.o_custkey AND pos.l_partkey = i.l_partkey)
        |GROUP BY c.o_custkey, i.l_partkey
        |ORDER BY c.o_custkey, draw""".stripMargin),
    // q153's arm assignment + rounded per-unit covariates; moments on
    // the melted 2xC cell frame
    QuerySpec("q204_covariate_balance", q204CovariateBalance,
      """WITH u AS (
        |  SELECT user_id,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))::BIGINT
        |      % 2 AS INT) AS arm,
        |    round(sum(value), 6) AS value_sum,
        |    count(*) * 1.0 AS n_events,
        |    count(DISTINCT event_type) * 1.0 AS n_types
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |m AS (
        |  SELECT arm, 'value_sum' AS covariate, value_sum AS v FROM u
        |  UNION ALL SELECT arm, 'n_events', n_events FROM u
        |  UNION ALL SELECT arm, 'n_types', n_types FROM u),
        |cells AS (
        |  SELECT covariate, arm, count(*) AS n, sum(v) AS s, sum(v * v) AS ss
        |  FROM m WHERE v IS NOT NULL GROUP BY 1, 2),
        |st AS (
        |  SELECT covariate, arm, n, s / n AS mn,
        |    (ss - s * s / n) / (n - 1) AS var
        |  FROM cells),
        |p AS (
        |  SELECT covariate,
        |    max(CASE WHEN arm = 0 THEN n END) AS n0,
        |    max(CASE WHEN arm = 1 THEN n END) AS n1,
        |    max(CASE WHEN arm = 0 THEN mn END) AS m0,
        |    max(CASE WHEN arm = 1 THEN mn END) AS m1,
        |    max(CASE WHEN arm = 0 THEN var END) AS v0,
        |    max(CASE WHEN arm = 1 THEN var END) AS v1
        |  FROM st GROUP BY 1)
        |SELECT covariate, n0, n1,
        |  round(m0, 4) AS mean0, round(m1, 4) AS mean1,
        |  round(sqrt(v0), 4) AS sd0, round(sqrt(v1), 4) AS sd1,
        |  CASE WHEN sqrt((v0 + v1) / 2) > 0 THEN
        |    round((m1 - m0) / sqrt((v0 + v1) / 2), 4) END AS smd,
        |  CASE WHEN sqrt((v0 + v1) / 2) > 0 THEN
        |    CAST(abs((m1 - m0) / sqrt((v0 + v1) / 2)) < 0.1 AS INT) END AS balanced
        |FROM p ORDER BY covariate""".stripMargin),
    // q61's recursive-CTE closure + the per-cluster argmax election
    QuerySpec("q205_canonical", q205Canonical,
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.8),
        |und AS (SELECT doc_a AS a, doc_b AS b FROM p
        |        UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |nodes AS (SELECT DISTINCT a AS id FROM und),
        |cc AS (
        |  SELECT n.id AS doc_id, least(n.id, min(r.b)) AS cluster_id
        |  FROM nodes n JOIN reach r ON r.a = n.id GROUP BY n.id),
        |mem AS (
        |  SELECT cc.cluster_id, cc.doc_id, d.n_chars
        |  FROM cc JOIN documents d ON d.doc_id = cc.doc_id),
        |best AS (
        |  SELECT cluster_id, count(*) AS n_members, max(n_chars) AS best_quality
        |  FROM mem GROUP BY 1)
        |SELECT b.cluster_id, min(m.doc_id) AS kept_doc_id,
        |  b.n_members, b.best_quality
        |FROM best b JOIN mem m ON m.cluster_id = b.cluster_id
        |  AND m.n_chars = b.best_quality
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin),
    // every policy's sums from one length frame; pure integer
    // arithmetic, one rounded division
    QuerySpec("q206_packing_audit", q206PackingAudit,
      """WITH d AS (
        |  SELECT len(string_split_regex(lower(trim(text)), '\s+')) AS l
        |  FROM documents WHERE text IS NOT NULL),
        |a AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(l) AS BIGINT) AS t,
        |    CAST(sum(least(l, 128)) AS BIGINT) AS kept_trunc,
        |    CAST(sum(greatest(l - 128, 0)) AS BIGINT) AS overflow_trunc,
        |    CAST(sum(CAST(ceil(l / 128.0) AS BIGINT)) AS BIGINT) AS seqs_chunk
        |  FROM d),
        |pol AS (
        |  SELECT '1_truncate' AS policy, n_docs AS n_seqs,
        |    kept_trunc AS used_tokens, overflow_trunc AS overflow_tokens FROM a
        |  UNION ALL
        |  SELECT '2_chunk', seqs_chunk, t, 0 FROM a
        |  UNION ALL
        |  SELECT '3_concat', CAST(ceil(t / 128.0) AS BIGINT), t, 0 FROM a)
        |SELECT policy, n_seqs, used_tokens,
        |  CAST(overflow_tokens AS BIGINT) AS overflow_tokens,
        |  n_seqs * 128 - used_tokens AS padded_tokens,
        |  round(used_tokens / (n_seqs * 128.0), 6) AS efficiency
        |FROM pol ORDER BY policy""".stripMargin),
    // the full-rebuild restriction: the ENTIRE new snapshot's exact
    // pair join (q130's CTE chain) restricted to delta-touching
    // pairs, q61's recursive closure, the q205 argmax election on
    // text length, then one anti-join — the incremental engine plan
    // must reproduce the surviving corpus row for row
    QuerySpec("q207_corpus_refresh", q207CorpusRefresh,
      """WITH RECURSIVE low5 AS (
        |  SELECT doc_id, text, lang FROM documents ORDER BY doc_id LIMIT 5),
        |added AS (SELECT doc_id + 10000000 AS doc_id, text, lang FROM low5),
        |neu AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 4 THEN text || ' [rev2]' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 10 <> 3
        |  UNION ALL SELECT doc_id, text, lang FROM added),
        |delta AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 10 = 4
        |  UNION ALL SELECT doc_id FROM added),
        |toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM neu),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |sizes AS (SELECT doc_id, len(s) AS n FROM sh),
        |cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
        |    AND (doc_a IN (SELECT doc_id FROM delta)
        |      OR doc_b IN (SELECT doc_id FROM delta))),
        |und AS (SELECT doc_a AS a, doc_b AS b FROM p
        |        UNION SELECT doc_b, doc_a FROM p),
        |reach AS (
        |  SELECT a, b FROM und
        |  UNION
        |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        |nodes AS (SELECT DISTINCT a AS id FROM und),
        |cc AS (
        |  SELECT n.id AS doc_id, least(n.id, min(r.b)) AS cluster_id
        |  FROM nodes n JOIN reach r ON r.a = n.id GROUP BY n.id),
        |mem AS (
        |  SELECT cc.cluster_id, cc.doc_id, length(nu.text) AS q
        |  FROM cc JOIN neu nu ON nu.doc_id = cc.doc_id),
        |best AS (SELECT cluster_id, max(q) AS bq FROM mem GROUP BY 1),
        |keep AS (
        |  SELECT b.cluster_id, min(m.doc_id) AS keep_id
        |  FROM best b JOIN mem m
        |    ON m.cluster_id = b.cluster_id AND m.q = b.bq
        |  GROUP BY 1),
        |losers AS (
        |  SELECT m.doc_id FROM mem m
        |  JOIN keep k ON k.cluster_id = m.cluster_id
        |  WHERE m.doc_id <> k.keep_id)
        |SELECT n2.doc_id, n2.lang, length(n2.text) AS text_len
        |FROM neu n2
        |WHERE n2.doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY 1""".stripMargin),
    // thresholds via the exactQuantiles rank rule (cutsSql shape),
    // vocab from token first-occurrence ids, same OLS moments
    QuerySpec("q221_heaps", q221Heaps,
      """WITH n AS (SELECT count(*) AS n FROM documents),
        |r AS (SELECT doc_id AS v,
        |    row_number() OVER (ORDER BY doc_id) AS rk FROM documents),
        |cuts AS (
        |  SELECT qq.q,
        |    max(CASE WHEN r.rk = CAST(ceil(qq.q * n.n) AS BIGINT)
        |      THEN r.v END) AS cut
        |  FROM r CROSS JOIN n
        |  CROSS JOIN (SELECT unnest(range(1, 11)) / 10.0 AS q) qq
        |  GROUP BY 1),
        |tok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT doc_id, tok FROM tok WHERE tok <> ''),
        |fd AS (SELECT tok, min(doc_id) AS fdoc FROM tk GROUP BY 1),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS len
        |  FROM tk GROUP BY 1),
        |nt AS (
        |  SELECT c.q, CAST(sum(dl.len) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_docs
        |  FROM cuts c JOIN dl ON dl.doc_id <= c.cut GROUP BY 1),
        |vv AS (
        |  SELECT c.q, CAST(count(*) AS BIGINT) AS vocab
        |  FROM cuts c JOIN fd ON fd.fdoc <= c.cut GROUP BY 1),
        |pts AS (
        |  SELECT c.q, c.cut, nt.n_docs, nt.n_tokens, vv.vocab
        |  FROM cuts c JOIN nt USING (q) JOIN vv USING (q)),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(ln(n_tokens)) AS sx, sum(ln(vocab)) AS sy,
        |    sum(ln(n_tokens) * ln(vocab)) AS sxy,
        |    sum(ln(n_tokens) * ln(n_tokens)) AS sxx,
        |    sum(ln(vocab) * ln(vocab)) AS syy
        |  FROM pts)
        |SELECT pts.q, pts.cut AS doc_id_cut, pts.n_docs, pts.n_tokens,
        |  pts.vocab,
        |  round((m.n * m.sxy - m.sx * m.sy)
        |    / (m.n * m.sxx - m.sx * m.sx), 6) + 0.0 AS beta,
        |  round((m.sy - (m.n * m.sxy - m.sx * m.sy)
        |    / (m.n * m.sxx - m.sx * m.sx) * m.sx) / m.n, 6) + 0.0 AS ln_k,
        |  round((m.n * m.sxy - m.sx * m.sy) * (m.n * m.sxy - m.sx * m.sy)
        |    / ((m.n * m.sxx - m.sx * m.sx) * (m.n * m.syy - m.sy * m.sy)), 6)
        |    + 0.0 AS r2
        |FROM pts CROSS JOIN m ORDER BY q""".stripMargin),
    // the identical RANGE frame in micros; sums in exact cents so
    // windowed-aggregation order cannot show through
    QuerySpec("q228_trailing_window", q228TrailingWindow,
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE user_id IS NOT NULL)
        |SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS events_1h,
        |  CAST(sum(cents) OVER w AS BIGINT) / 100.0 AS value_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin),
    // same join, integer day gaps, grouped ceil(q·n) rank rule for
    // the exact quantiles
    QuerySpec("q229_lead_time", q229LeadTime,
      """WITH g AS (
        |  SELECT o.o_orderpriority,
        |    CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
        |      AS d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL),
        |st AS (
        |  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |    sum(d) / count(*) AS mean_days
        |  FROM g GROUP BY 1),
        |r AS (
        |  SELECT o_orderpriority, d,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY d)
        |      AS rk,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM g),
        |qv AS (
        |  SELECT o_orderpriority,
        |    max(CASE WHEN rk = CAST(ceil(0.5 * cnt) AS BIGINT) THEN d END)
        |      AS p50_days,
        |    max(CASE WHEN rk = CAST(ceil(0.9 * cnt) AS BIGINT) THEN d END)
        |      AS p90_days
        |  FROM r GROUP BY 1)
        |SELECT st.o_orderpriority, st.n, st.mean_days,
        |  qv.p50_days, qv.p90_days
        |FROM st JOIN qv USING (o_orderpriority)
        |ORDER BY 1""".stripMargin),
    // the same 6-table join; revenue summed in exact cents
    // decorrelated Q17: the per-part average is exact (integer-valued
    // quantities sum exactly in doubles), and the x5 integer form of
    // the threshold keeps the filter ulp-proof
    QuerySpec("q235_small_qty", q235SmallQty,
      """WITH a AS (
        |  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        |  FROM lineitem GROUP BY 1),
        |f AS (
        |  SELECT l.l_partkey,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem l JOIN a ON l.l_partkey = a.pk
        |  WHERE l.l_quantity * 5 < a.avg_qty)
        |SELECT p.p_brand, CAST(count(*) AS BIGINT) AS n_small_lines,
        |  round(CAST(sum(cents) AS DOUBLE) / 700.0, 2) AS avg_yearly
        |FROM f JOIN part p ON f.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // sketch set algebra replayed: per-type registers, pair unions by
    // register max, singles/unions through the same estimator
    // (incl. linear counting), inclusion-exclusion for intersections
    QuerySpec("q236_audience_sketch", q236AudienceSketch,
      """WITH ev AS (
        |  SELECT event_type, user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (
        |  SELECT event_type, h % 256 AS j,
        |    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) ELSE 53 END AS rnk
        |  FROM ev),
        |mx AS (SELECT event_type, j, max(rnk) AS mj FROM r GROUP BY 1, 2),
        |est1 AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
        |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS big_s,
        |    CAST(count(*) AS BIGINT) AS nset
        |  FROM mx GROUP BY 1),
        |sing AS (
        |  SELECT event_type,
        |    round(CASE WHEN 4.2399330249068963e+20 / big_s <= 640.0 AND 256 - nset > 0
        |      THEN 256 * ln(256 / CAST(256 - nset AS DOUBLE))
        |      ELSE 4.2399330249068963e+20 / big_s END, 2) AS est
        |  FROM est1),
        |pr AS (
        |  SELECT a.event_type AS et_a, b.event_type AS et_b,
        |    a.est AS est_a, b.est AS est_b
        |  FROM sing a JOIN sing b ON a.event_type < b.event_type),
        |um AS (
        |  SELECT p.et_a, p.et_b, m.j, max(m.mj) AS mj
        |  FROM pr p JOIN mx m
        |    ON m.event_type = p.et_a OR m.event_type = p.et_b
        |  GROUP BY 1, 2, 3),
        |ua AS (
        |  SELECT et_a, et_b,
        |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
        |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS big_s,
        |    CAST(count(*) AS BIGINT) AS nset
        |  FROM um GROUP BY 1, 2),
        |uni AS (
        |  SELECT et_a, et_b,
        |    round(CASE WHEN 4.2399330249068963e+20 / big_s <= 640.0 AND 256 - nset > 0
        |      THEN 256 * ln(256 / CAST(256 - nset AS DOUBLE))
        |      ELSE 4.2399330249068963e+20 / big_s END, 2) AS est_union
        |  FROM ua),
        |du AS (SELECT DISTINCT event_type, user_id FROM ev),
        |exact AS (
        |  SELECT a.event_type AS et_a, b.event_type AS et_b,
        |    count(DISTINCT a.user_id) AS n_exact
        |  FROM du a JOIN du b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.et_a, p.et_b, p.est_a, p.est_b, u.est_union,
        |  round(p.est_a + p.est_b - u.est_union, 2) AS est_intersection,
        |  e.n_exact,
        |  round((round(p.est_a + p.est_b - u.est_union, 2) - e.n_exact) / e.n_exact, 4) AS rel_err
        |FROM pr p
        |JOIN uni u ON u.et_a = p.et_a AND u.et_b = p.et_b
        |JOIN exact e ON e.et_a = p.et_a AND e.et_b = p.et_b
        |ORDER BY 1, 2""".stripMargin),
    // register max-merge is associative, so the oracle computes each
    // period's registers DIRECTLY — algebraically identical to the
    // engine's day-table rollup; estimator incl. the linear-counting
    // branch as in q231
    QuerySpec("q234_hll_rollup", q234HllRollup,
      """WITH ev AS (
        |  SELECT substr(CAST(CAST(ts AS DATE) AS VARCHAR), 1, 9) AS mth, user_id,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL),
        |per AS (
        |  SELECT mth AS period, user_id, h FROM ev
        |  UNION ALL SELECT 'ALL', user_id, h FROM ev),
        |r AS (
        |  SELECT period, user_id, h % 256 AS j,
        |    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) ELSE 53 END AS rnk
        |  FROM per),
        |mx AS (SELECT period, j, max(rnk) AS mj FROM r GROUP BY 1, 2),
        |s AS (
        |  SELECT period,
        |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
        |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS big_s,
        |    CAST(count(*) AS BIGINT) AS n_registers_set
        |  FROM mx GROUP BY 1),
        |e AS (SELECT period, count(DISTINCT user_id) AS n_exact FROM per GROUP BY 1),
        |est AS (
        |  SELECT s.period, n_registers_set, n_exact,
        |    round(CASE WHEN 4.2399330249068963e+20 / big_s <= 640.0
        |        AND 256 - n_registers_set > 0
        |      THEN 256 * ln(256 / CAST(256 - n_registers_set AS DOUBLE))
        |      ELSE 4.2399330249068963e+20 / big_s END, 2) AS hll_estimate
        |  FROM s JOIN e ON e.period = s.period)
        |SELECT period, hll_estimate, n_registers_set, n_exact,
        |  round((hll_estimate - n_exact) / n_exact, 4) AS rel_err
        |FROM est ORDER BY period""".stripMargin),
    // the raw-HLL core restated register for register: h from md5
    // hex, j = h mod 256, rank from length(bin(w)) — both engines'
    // bin() prints without leading zeros, so bitlength is exact
    // integer reading, no floating log2 — and the harmonic sum kept
    // integer-exact as Σ 2^(53−M_j); the estimate is the SAME
    // collapsed double literal K = α·m²·2^53 divided once per group
    // (multi-term SQL float chains are non-portable: Spark parses
    // decimal literals as DECIMAL — see Hll.scala)
    QuerySpec("q231_hll_md5", q231HllMd5,
      """WITH li AS (
        |  SELECT substr(CAST(l_shipdate AS VARCHAR), 1, 7) AS ship_month, l_partkey,
        |    ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT ship_month, h % 256 AS j,
        |    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256)) ELSE 53 END AS rnk
        |  FROM li),
        |mx AS (SELECT ship_month, j, max(rnk) AS mj FROM r GROUP BY 1, 2),
        |s AS (
        |  SELECT ship_month,
        |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
        |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS big_s,
        |    CAST(count(*) AS BIGINT) AS n_registers_set
        |  FROM mx GROUP BY 1),
        |e AS (SELECT ship_month, count(DISTINCT l_partkey) AS n_exact FROM li GROUP BY 1),
        |est AS (
        |  SELECT s.ship_month, n_registers_set, n_exact,
        |    round(CASE WHEN 4.2399330249068963e+20 / big_s <= 640.0
        |        AND 256 - n_registers_set > 0
        |      THEN 256 * ln(256 / CAST(256 - n_registers_set AS DOUBLE))
        |      ELSE 4.2399330249068963e+20 / big_s END, 2) AS hll_estimate
        |  FROM s JOIN e ON e.ship_month = s.ship_month)
        |SELECT ship_month, hll_estimate, n_registers_set, n_exact,
        |  round((hll_estimate - n_exact) / n_exact, 4) AS rel_err
        |FROM est ORDER BY ship_month""".stripMargin),
    // the Q8 shape with both nation roles; cents and the share
    // division mirror the engine's exact-integer-then-one-division
    // discipline
    QuerySpec("q232_market_share", q232MarketShare,
      """WITH f AS (
        |  SELECT year(o.o_orderdate) AS o_year,
        |    CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100) AS BIGINT) AS cents,
        |    n2.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |  JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
        |  JOIN nation n2 ON sp.s_nationkey = n2.n_nationkey
        |  WHERE o.o_orderdate >= DATE '1996-01-01'
        |    AND o.o_orderdate < DATE '1998-01-01')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS BIGINT) AS nation_cents,
        |  CAST(sum(cents) AS BIGINT) AS total_cents,
        |  round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(cents) AS DOUBLE), 6) AS mkt_share
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin),
    // novelty = 1 − train-seen fraction of each test doc's distinct
    // 5-grams; the planted train/test pair shares a 12-token span →
    // the −2 row reads exactly 8/12 seen
    QuerySpec("q233_novelty", q233Novelty,
      """WITH pl(doc_id, text) AS (VALUES
        |  (-1, 'nova1 nova2 nova3 nova4 nova5 nova6 nova7 nova8 nova9 nova10 nova11 nova12 trtail1 trtail2 trtail3'),
        |  (-2, 'nova1 nova2 nova3 nova4 nova5 nova6 nova7 nova8 nova9 nova10 nova11 nova12 tstail1 tstail2 tstail3 tstail4')),
        |allc AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM pl),
        |b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM allc),
        |toks AS (
        |  SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\s+') AS t FROM b),
        |shl AS (
        |  SELECT doc_id, bucket, list_distinct(list_transform(range(1, len(t) - 3),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) AS s
        |  FROM toks WHERE len(t) >= 5),
        |ex AS (SELECT doc_id, bucket, unnest(s) AS shingle FROM shl),
        |tv AS (SELECT DISTINCT shingle FROM ex WHERE bucket < 80),
        |te AS (SELECT doc_id AS test_doc, shingle FROM ex WHERE bucket >= 90),
        |agg AS (
        |  SELECT test_doc, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN tv.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |  FROM te LEFT JOIN tv ON te.shingle = tv.shingle GROUP BY 1)
        |SELECT test_doc, n_shingles, n_seen,
        |  round(1.0 - CAST(n_seen AS DOUBLE) / n_shingles, 4) AS novelty
        |FROM agg ORDER BY test_doc""".stripMargin),
    QuerySpec("q227_local_revenue", q227LocalRevenue,
      """SELECT n.n_name,
        |  CAST(sum(round(l.l_extendedprice * (1.0 - l.l_discount) * 100))
        |    AS BIGINT) AS revenue_cents,
        |  CAST(count(*) AS BIGINT) AS n_lineitems
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  AND s.s_nationkey = c.c_nationkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= DATE '1996-01-01'
        |  AND o.o_orderdate < DATE '1998-01-01'
        |GROUP BY 1
        |ORDER BY revenue_cents DESC, n_name""".stripMargin),
    // the forced TTL timeline's exact surviving set: batch-1 firsts
    // land, the within-TTL re-delivery (doc 3) drops, the post-expiry
    // re-delivery (doc 4) lands again, plus the pusher and the novel
    // doc — fingerprints recomputed by DuckDB's md5
    QuerySpec("q226_stream_dedup_ttl", q226StreamDedupTtl,
      """SELECT doc_id, md5(text) AS fingerprint FROM (VALUES
        |  (1, 'alpha beta gamma'),
        |  (2, 'delta epsilon zeta'),
        |  (4, 'alpha beta gamma'),
        |  (5, 'omega psi chi'),
        |  (100, 'watermark pusher text'),
        |  (101, 'second pusher text')) AS t(doc_id, text)
        |ORDER BY doc_id""".stripMargin),
    // count frames joined on the key, product work, top-20 by (out_n
    // DESC, key); share = unrounded exact-long ratio
    QuerySpec("q224_skew_report", q224SkewReport,
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |j AS (
        |  SELECT user_id, n AS left_n, n AS right_n, n * n AS out_n
        |  FROM c),
        |tot AS (
        |  SELECT CAST(sum(out_n) AS BIGINT) AS tot,
        |    CAST(max(out_n) AS BIGINT) AS mx,
        |    CAST(count(*) AS BIGINT) AS nk
        |  FROM j),
        |top AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY out_n DESC, user_id)
        |    AS INT) AS rank
        |  FROM j QUALIFY rank <= 20)
        |SELECT top.user_id, top.rank, top.left_n, top.right_n, top.out_n,
        |  tot.tot AS total_output_rows,
        |  tot.mx * 1.0 / greatest(tot.tot, 1) AS top1_share,
        |  tot.nk AS n_join_keys
        |FROM top CROSS JOIN tot ORDER BY rank""".stripMargin),
    // same lead() pairs; the exact median restates the ceil(0.5·n)
    // rank rule per transition; gaps are integer micros
    QuerySpec("q225_transition_gaps", q225TransitionGaps,
      """WITH p AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER w AS next_state,
        |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS g
        |  FROM events WHERE user_id IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |pp AS (SELECT * FROM p WHERE next_state IS NOT NULL),
        |st AS (
        |  SELECT state, next_state, CAST(count(*) AS BIGINT) AS n,
        |    sum(g) / count(*) / 1000000.0 AS mean_gap_sec
        |  FROM pp GROUP BY 1, 2),
        |r AS (
        |  SELECT state, next_state, g,
        |    row_number() OVER (PARTITION BY state, next_state
        |      ORDER BY g) AS rk,
        |    count(*) OVER (PARTITION BY state, next_state) AS cnt
        |  FROM pp),
        |med AS (
        |  SELECT state, next_state,
        |    max(CASE WHEN rk = CAST(ceil(0.5 * cnt) AS BIGINT) THEN g END)
        |      / 1000000.0 AS p50_gap_sec
        |  FROM r GROUP BY 1, 2)
        |SELECT st.state, st.next_state, st.n, st.mean_gap_sec,
        |  med.p50_gap_sec
        |FROM st JOIN med USING (state, next_state)
        |ORDER BY 1, 2""".stripMargin),
    // json_keys + dynamic json_extract_string restate the map parse;
    // malformed rows excluded by json_valid (the parse-to-null twin)
    QuerySpec("q222_json_profile", q222JsonProfile,
      """WITH pl(event_id, props) AS (VALUES
        |  (-1, '{"k": 5, "tag": "alpha", "flag": true}'),
        |  (-2, '{"tag": "beta", "ratio": 0.5}'),
        |  (-3, 'not json')),
        |allp AS (
        |  SELECT props FROM events UNION ALL SELECT props FROM pl),
        |ok AS (SELECT props FROM allp WHERE json_valid(props)),
        |kv AS (SELECT unnest(json_keys(props)) AS key, props FROM ok),
        |v AS (
        |  SELECT key, json_extract_string(props, '$.' || key) AS value
        |  FROM kv)
        |SELECT key, CAST(count(*) AS BIGINT) AS n_present,
        |  CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN regexp_matches(value,
        |    '^-?[0-9]+(\.[0-9]+)?$') THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1.0 / count(*) AS numeric_share
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin),
    // the plain desc-order cumulative window IS the oracle; the
    // engine's bucketed prefix must reproduce it (q113 proof shape)
    QuerySpec("q223_pareto", q223Pareto,
      """WITH rev AS (
        |  SELECT l_partkey,
        |    CAST(sum(round(l_extendedprice * 100)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |mm AS (
        |  SELECT CAST(sum(rev_cents) AS BIGINT) AS tot,
        |    CAST(floor(sum(rev_cents) * 0.8) AS BIGINT) AS b,
        |    CAST(count(*) AS BIGINT) AS nparts
        |  FROM rev),
        |c AS (
        |  SELECT l_partkey, rev_cents,
        |    CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM rev),
        |cut AS (SELECT c.* FROM c CROSS JOIN mm WHERE cum_tokens <= mm.b),
        |k AS (
        |  SELECT CAST(count(*) AS BIGINT) AS nkept,
        |    CAST(sum(rev_cents) AS BIGINT) AS kc
        |  FROM cut)
        |SELECT cut.l_partkey, cut.rev_cents, cut.cum_tokens,
        |  k.nkept AS n_parts_kept, mm.nparts AS n_parts_total,
        |  k.kc * 1.0 / mm.tot AS covered_share
        |FROM cut CROSS JOIN k CROSS JOIN mm ORDER BY 1""".stripMargin),
    // identical bin cells and Murphy arithmetic; aggregated doubles
    // rounded at 6 on both sides
    QuerySpec("q220_brier", q220Brier,
      """WITH c AS (
        |  SELECT c_acctbal, c_mktsegment FROM customer
        |  WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL),
        |mm AS (SELECT min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM c),
        |s AS (
        |  SELECT (c_acctbal - mm.lo) / (mm.hi - mm.lo) AS p,
        |    CAST(c_mktsegment = 'BUILDING' AS INT) AS y
        |  FROM c CROSS JOIN mm),
        |b AS (
        |  SELECT p, CAST(y AS DOUBLE) AS y,
        |    least(CAST(floor(p * 10) AS INT), 9) AS bin
        |  FROM s),
        |cells AS (
        |  SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    avg(p) AS mp, avg(y) AS fy
        |  FROM b GROUP BY 1),
        |br AS (SELECT avg((p - y) * (p - y)) AS brier FROM b),
        |tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    sum(fy * n) / sum(n) AS ybar
        |  FROM cells),
        |sc AS (
        |  SELECT sum(n * (mp - fy) * (mp - fy)) / tot.nn AS rel,
        |    sum(n * (fy - tot.ybar) * (fy - tot.ybar)) / tot.nn AS res,
        |    any_value(tot.ybar) * (1 - any_value(tot.ybar)) AS unc
        |  FROM cells CROSS JOIN tot GROUP BY tot.nn, tot.ybar)
        |SELECT cells.bin, cells.n,
        |  round(cells.mp, 6) AS mean_predicted,
        |  round(cells.fy, 6) AS frac_positive,
        |  round(br.brier, 6) AS brier,
        |  round(sc.rel, 6) AS reliability,
        |  round(sc.res, 6) AS resolution,
        |  round(sc.unc, 6) AS uncertainty
        |FROM cells CROSS JOIN br CROSS JOIN sc
        |ORDER BY bin""".stripMargin),
    // same lead() pairs, md5 user split, train argmax with lexical
    // tie, held-out scoring; accuracies are unrounded exact-long
    // ratios
    QuerySpec("q219_markov_backtest", q219MarkovBacktest,
      """WITH pairs AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS nxt,
        |    CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 6))
        |      ::BIGINT % 100 < 80 THEN 'train' ELSE 'test' END AS spl
        |  FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT * FROM pairs WHERE nxt IS NOT NULL),
        |fit AS (
        |  SELECT state, nxt, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE spl = 'train' GROUP BY 1, 2),
        |best AS (
        |  SELECT state, max(n) AS bn, CAST(sum(n) AS BIGINT) AS train_total
        |  FROM fit GROUP BY 1),
        |pred AS (
        |  SELECT f.state, b.train_total, min(f.nxt) AS predicted_next
        |  FROM fit f JOIN best b ON b.state = f.state AND f.n = b.bn
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.state, pr.predicted_next, pr.train_total,
        |    CAST(count(*) AS BIGINT) AS n_test,
        |    CAST(sum(CASE WHEN p.nxt = pr.predicted_next THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_correct
        |  FROM p JOIN pred pr ON pr.state = p.state
        |  WHERE p.spl = 'test' GROUP BY 1, 2, 3),
        |ov AS (
        |  SELECT coalesce(sum(n_correct), 0) * 1.0 /
        |    greatest(coalesce(sum(n_test), 0), 1) AS overall_accuracy
        |  FROM scored)
        |SELECT s.state, s.predicted_next, s.train_total, s.n_test,
        |  s.n_correct, s.n_correct * 1.0 / s.n_test AS accuracy,
        |  ov.overall_accuracy
        |FROM scored s CROSS JOIN ov ORDER BY 1""".stripMargin),
    // every stage restated in its already-proven oracle idiom: md5
    // split buckets, q115 quality score, min-id md5 dedup, q116-style
    // 13-gram shingles, q113's budget cut as a plain cumsum
    QuerySpec("q218_curation_funnel", q218CurationFunnel,
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    md5(text) AS fp,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |      % 100 AS bkt
        |  FROM documents),
        |n1 AS (
        |  SELECT doc_id, fp, CAST(len(toks) AS BIGINT) AS n,
        |    round(least(len(toks) / 50.0, 1.0) *
        |      (1.0 - len(list_filter(toks, x -> x IN ('the','a'))) * 1.0
        |        / len(toks)), 4) AS q,
        |    CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
        |      ELSE 'test' END AS spl
        |  FROM base),
        |s2 AS (SELECT * FROM n1 WHERE spl = 'train'),
        |s3 AS (SELECT * FROM s2 WHERE q >= 0.3),
        |keep AS (SELECT min(doc_id) AS doc_id FROM s3 GROUP BY fp),
        |s4 AS (SELECT s3.* FROM s3 JOIN keep USING (doc_id)),
        |tsh AS (
        |  SELECT DISTINCT unnest(list_transform(
        |    range(0, greatest(len(b.toks) - 12, 0)),
        |    i -> array_to_string(b.toks[i+1:i+13], ' '))) AS shingle
        |  FROM n1 JOIN base b USING (doc_id)
        |  WHERE n1.spl = 'test' AND len(b.toks) >= 13),
        |s4sh AS (
        |  SELECT s4.doc_id, unnest(list_transform(
        |    range(0, greatest(len(b.toks) - 12, 0)),
        |    i -> array_to_string(b.toks[i+1:i+13], ' '))) AS shingle
        |  FROM s4 JOIN base b USING (doc_id) WHERE len(b.toks) >= 13),
        |cont AS (SELECT DISTINCT s.doc_id FROM s4sh s JOIN tsh USING (shingle)),
        |s5 AS (SELECT * FROM s4
        |  WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |bud AS (SELECT CAST(floor(sum(n) * 0.6) AS BIGINT) AS b FROM s5),
        |c6 AS (SELECT *, CAST(sum(n) OVER (ORDER BY q DESC, doc_id
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM s5),
        |s6 AS (SELECT c6.* FROM c6 CROSS JOIN bud WHERE cum <= bud.b),
        |funnel AS (
        |  SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(n), 0) AS BIGINT) AS n_tokens FROM n1
        |  UNION ALL SELECT '2_train_split', count(*),
        |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT '3_quality', count(*),
        |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM s3
        |  UNION ALL SELECT '4_dedup', count(*),
        |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM s4
        |  UNION ALL SELECT '5_decontaminate', count(*),
        |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM s5
        |  UNION ALL SELECT '6_token_budget', count(*),
        |    CAST(coalesce(sum(n), 0) AS BIGINT) FROM s6)
        |SELECT stage, n_docs, n_tokens FROM funnel ORDER BY stage""".stripMargin),
    // the identical rank-offset pair sample; cosine via DuckDB's
    // list_cosine_similarity rounded at 6 before binning (the q34
    // parity convention)
    QuerySpec("q217_cosine_histogram", q217CosineHistogram,
      """WITH rk AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |    row_number() OVER (ORDER BY vec_id) AS r
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |pairs AS (
        |  SELECT round(list_cosine_similarity(a.v, b.v), 6) AS c
        |  FROM rk a JOIN rk b ON b.r = a.r + 1
        |  UNION ALL
        |  SELECT round(list_cosine_similarity(a.v, b.v), 6)
        |  FROM rk a JOIN rk b ON b.r = a.r + 17
        |  UNION ALL
        |  SELECT round(list_cosine_similarity(a.v, b.v), 6)
        |  FROM rk a JOIN rk b ON b.r = a.r + 97),
        |binned AS (
        |  SELECT least(greatest(CAST(floor((c + 1.0) * 10) AS INT), 0), 19)
        |      AS bin,
        |    CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM pairs GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM binned),
        |mc AS (SELECT round(avg(c), 4) AS mean_cosine FROM pairs)
        |SELECT bin, round(-1.0 + bin / 10.0, 1) AS bin_lo, n_pairs,
        |  round(n_pairs / t, 6) AS share, mean_cosine
        |FROM binned CROSS JOIN tot CROSS JOIN mc ORDER BY bin""".stripMargin),
    // per-candidate value-count profiles, exact integers + two
    // rounded divisions; the md5 bucket is the shared cross-engine
    // hash idiom
    QuerySpec("q216_partition_advisor", q216PartitionAdvisor,
      """WITH li AS (
        |  SELECT CAST(CAST(l_shipdate AS DATE) AS VARCHAR) AS c1,
        |    strftime(l_shipdate, '%Y-%m') AS c2,
        |    l_returnflag AS c3,
        |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 6))
        |      ::BIGINT % 64 AS VARCHAR) AS c4
        |  FROM lineitem),
        |cands AS (
        |  SELECT '1_ship_date' AS candidate, c1 AS k FROM li
        |  UNION ALL SELECT '2_ship_month', c2 FROM li
        |  UNION ALL SELECT '3_returnflag', c3 FROM li
        |  UNION ALL SELECT '4_orderkey_hash64', c4 FROM li),
        |vc AS (
        |  SELECT candidate, k, CAST(count(*) AS BIGINT) AS n
        |  FROM cands GROUP BY 1, 2)
        |SELECT candidate, CAST(count(*) AS BIGINT) AS n_partitions,
        |  min(n) AS min_rows, max(n) AS max_rows,
        |  round(CAST(sum(n) AS BIGINT) / CAST(count(*) AS BIGINT), 2)
        |    AS avg_rows,
        |  round(max(n) * CAST(count(*) AS BIGINT)
        |    / CAST(sum(n) AS BIGINT), 4) AS skew,
        |  CAST(sum(CASE WHEN n < 1000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_small
        |FROM vc GROUP BY 1 ORDER BY 1""".stripMargin),
    // identical integer water-filling: same ratio sort, same segment
    // test, same integer-division allocations
    QuerySpec("q215_water_fill", q215WaterFill,
      """WITH avail AS (
        |  SELECT source,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+')))
        |      AS BIGINT) AS a,
        |    CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT) % 4 + 1
        |      AS wt
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(a) AS BIGINT) AS ta, CAST(sum(wt) AS BIGINT) AS tw,
        |    CAST(floor(sum(a) * 0.6) AS BIGINT) AS b
        |  FROM avail),
        |t2 AS (SELECT ta, tw, least(b, ta) AS bp FROM tot),
        |rk AS (
        |  SELECT av.source, av.a, av.wt, t2.bp,
        |    row_number() OVER (ORDER BY av.a * 1.0 / av.wt, av.source) AS i,
        |    sum(av.a) OVER (ORDER BY av.a * 1.0 / av.wt, av.source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
        |    t2.tw - sum(av.wt) OVER (ORDER BY av.a * 1.0 / av.wt, av.source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wsuf,
        |    lead(av.a) OVER (ORDER BY av.a * 1.0 / av.wt, av.source) AS na,
        |    lead(av.wt) OVER (ORDER BY av.a * 1.0 / av.wt, av.source) AS nw
        |  FROM avail av CROSS JOIN t2),
        |cand AS (
        |  SELECT i, s, wsuf, bp, na, nw FROM rk
        |  WHERE a * wsuf <= (bp - s) * wt
        |  UNION ALL
        |  SELECT 0, 0, t2.tw, t2.bp,
        |    (SELECT a FROM rk WHERE i = 1),
        |    (SELECT wt FROM rk WHERE i = 1)
        |  FROM t2),
        |istar AS (
        |  SELECT i AS istar, s AS sstar, wsuf AS wstar, bp FROM cand
        |  WHERE na IS NULL OR na * wsuf > (bp - s) * nw
        |  ORDER BY i LIMIT 1)
        |SELECT rk.source, rk.a AS available, rk.wt AS weight,
        |  CAST(CASE WHEN rk.i <= istar.istar THEN rk.a
        |       ELSE (istar.bp - istar.sstar) * rk.wt // istar.wstar END
        |    AS BIGINT) AS allocated,
        |  rk.i <= istar.istar AS saturated,
        |  istar.bp AS effective_budget
        |FROM rk CROSS JOIN istar ORDER BY source""".stripMargin),
    // the same life-table grid: per-(arm, duration) exits, densified
    // to event-times x arms, cumulative at-risk, O/E sums and the
    // 2-group variance restricted to arm 0 rows with n_t > 1
    QuerySpec("q214_logrank", q214LogRank,
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |span AS (
        |  SELECT user_id, min(day) AS fd, max(day) AS ld
        |  FROM e GROUP BY 1),
        |ferr AS (
        |  SELECT user_id, min(day) AS ed FROM e
        |  WHERE event_type = 'error' GROUP BY 1),
        |units AS (
        |  SELECT
        |    CAST(('0x' || substr(md5(CAST(s.user_id AS VARCHAR)), 1, 6))::BIGINT
        |      % 2 AS INT) AS g,
        |    CAST(CASE WHEN f.ed IS NOT NULL
        |      THEN date_diff('day', s.fd, f.ed)
        |      ELSE date_diff('day', s.fd, s.ld) END AS BIGINT) AS t,
        |    CAST(f.ed IS NOT NULL AS INT) AS ev
        |  FROM span s LEFT JOIN ferr f ON f.user_id = s.user_id),
        |cells AS (
        |  SELECT g, t, CAST(sum(ev) AS BIGINT) AS d,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM units WHERE t >= 0 GROUP BY 1, 2),
        |times AS (SELECT DISTINCT t FROM cells),
        |grp AS (SELECT g, CAST(sum(x) AS BIGINT) AS n_g FROM cells GROUP BY 1),
        |grid AS (
        |  SELECT tm.t, gr.g, gr.n_g,
        |    coalesce(c.d, 0) AS d, coalesce(c.x, 0) AS x
        |  FROM times tm CROSS JOIN grp gr
        |  LEFT JOIN cells c ON c.g = gr.g AND c.t = tm.t),
        |ar AS (
        |  SELECT *, n_g - coalesce(sum(x) OVER (PARTITION BY g ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_gt
        |  FROM grid),
        |full_t AS (
        |  SELECT *, sum(n_gt) OVER (PARTITION BY t) AS n_t,
        |    sum(d) OVER (PARTITION BY t) AS d_t
        |  FROM ar),
        |evt AS (SELECT * FROM full_t WHERE d_t > 0),
        |per AS (
        |  SELECT g AS arm, CAST(sum(d) AS BIGINT) AS observed,
        |    sum(d_t * n_gt / n_t) AS e
        |  FROM evt GROUP BY 1),
        |v AS (
        |  SELECT sum(d_t * (n_gt / n_t) * (1 - n_gt / n_t)
        |    * (n_t - d_t) / (n_t - 1)) AS var
        |  FROM evt WHERE g = (SELECT min(g) FROM grp) AND n_t > 1),
        |o1 AS (
        |  SELECT observed AS obs1, e AS e1 FROM per
        |  WHERE arm = (SELECT min(g) FROM grp)),
        |k AS (SELECT count(*) AS k FROM grp)
        |SELECT p.arm, p.observed, round(p.e, 4) AS expected,
        |  CASE WHEN k.k = 2 AND v.var > 0 THEN
        |    round((o1.obs1 - o1.e1) * (o1.obs1 - o1.e1) / v.var, 4) END
        |    AS chi2
        |FROM per p CROSS JOIN v CROSS JOIN o1 CROSS JOIN k
        |ORDER BY 1""".stripMargin),
    // identical OLS moments over the identical top-1000 (cnt desc,
    // token) rank frame; ln parity across engines per the q97
    // precedent
    QuerySpec("q213_zipf", q213Zipf,
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, count(*) AS cnt FROM toks
        |  WHERE tok <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM tf),
        |top AS (
        |  SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r
        |  FROM tf ORDER BY cnt DESC, tok LIMIT 1000),
        |pts AS (SELECT ln(r) AS x, ln(cnt) AS y, cnt, r FROM top),
        |m AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy,
        |    max(CASE WHEN r = 1 THEN cnt END) AS top1
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round(top1 / t, 6) AS top1_share,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
        |    AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM m CROSS JOIN tot""".stripMargin),
    // the naive per-type degree sort restated; the ordered list_reduce
    // folds the SAME ln terms in the SAME rank order as the engine's
    // in-row array fold (0 + x = x, so the missing zero seed is exact)
    QuerySpec("q296_tail_index", q296TailIndex,
      """WITH deg AS (
        |  SELECT event_type, user_id, CAST(count(*) AS DOUBLE) AS deg
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CAST(deg AS BIGINT)) AS BIGINT) AS total_events
        |  FROM deg GROUP BY 1),
        |r AS (
        |  SELECT event_type, deg, user_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY deg DESC, user_id) AS rnk
        |  FROM deg),
        |t AS (SELECT * FROM r WHERE rnk <= 100),
        |km AS (
        |  SELECT event_type, CAST(max(rnk) AS INT) AS k_used, min(deg) AS d_k,
        |    CAST(sum(CAST(deg AS BIGINT)) AS BIGINT) AS top_events
        |  FROM t GROUP BY 1),
        |sl AS (
        |  SELECT t.event_type,
        |    round(list_reduce(list(ln(t.deg / km.d_k) ORDER BY t.rnk),
        |      (a, b) -> a + b), 9) AS sum_ln
        |  FROM t JOIN km USING (event_type) GROUP BY t.event_type)
        |SELECT event_type, n_users, total_events, k_used,
        |  CAST(d_k AS BIGINT) AS d_k,
        |  CASE WHEN sum_ln > (k_used - 1) / 1000.0
        |       THEN round(1.0 + (k_used - 1) / sum_ln, 4) END AS alpha_hill,
        |  round(CAST(top_events AS DOUBLE) / total_events, 4) AS top_share
        |FROM tot JOIN km USING (event_type) JOIN sl USING (event_type)
        |ORDER BY event_type""".stripMargin),
    // identical integer-cents prefix-sum arithmetic: every quantity
    // before a division is an exact BIGINT, so the float argmax can
    // never flip between engines; ties to the earliest split
    QuerySpec("q212_changepoint", q212Changepoint,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS dv
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, day,
        |    CAST(round(dv * 100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |    sum(CAST(round(dv * 100) AS BIGINT)) OVER (
        |      PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
        |    sum(CAST(round(dv * 100) AS BIGINT)
        |        * CAST(round(dv * 100) AS BIGINT)) OVER (
        |      PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs2,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(CAST(round(dv * 100) AS BIGINT)) OVER (
        |      PARTITION BY event_type) AS ts,
        |    sum(CAST(round(dv * 100) AS BIGINT)
        |        * CAST(round(dv * 100) AS BIGINT)) OVER (
        |      PARTITION BY event_type) AS ts2
        |  FROM daily),
        |cand AS (
        |  SELECT *, i - 1 AS ln, cs - v AS ls, cs2 - v * v AS ls2,
        |    n - i + 1 AS rn, ts - (cs - v) AS rs,
        |    ts2 - (cs2 - v * v) AS rs2
        |  FROM c WHERE i >= 2 AND n >= 2),
        |red AS (
        |  SELECT event_type, day, i, n, ls, ln, rs, rn,
        |    (ts2 - ts * ts / n)
        |      - ((ls2 - ls * ls / ln) + (rs2 - rs * rs / rn)) AS r
        |  FROM cand),
        |best AS (
        |  SELECT event_type, max(r) AS br FROM red GROUP BY 1),
        |win AS (
        |  SELECT r.event_type, r.n, b.br, min(r.i) AS bi
        |  FROM red r JOIN best b
        |    ON b.event_type = r.event_type AND r.r = b.br
        |  GROUP BY 1, 2, 3)
        |SELECT w.event_type, w.n,
        |  r.day AS change_day,
        |  r.ls / r.ln / 100 AS before_mean,
        |  r.rs / r.rn / 100 AS after_mean,
        |  w.br / 10000 AS sse_reduction
        |FROM win w JOIN red r
        |  ON r.event_type = w.event_type AND r.i = w.bi
        |ORDER BY 1""".stripMargin),
    // every card section restated: counts/mean/min/max directly, the
    // exact quantiles via the rank rule ceil(q·n), dup accounting
    // over md5 text groups
    QuerySpec("q211_corpus_card", q211CorpusCard,
      """WITH base AS (
        |  SELECT lang, source, CAST(length(text) AS DOUBLE) AS len,
        |    md5(text) AS fp
        |  FROM documents WHERE text IS NOT NULL),
        |n AS (SELECT count(*) AS n FROM base),
        |r AS (SELECT len AS v, row_number() OVER (ORDER BY len) AS rk
        |  FROM base),
        |card AS (
        |  SELECT 'count' AS section, 'total' AS key,
        |    CAST(count(*) AS DOUBLE) AS value FROM base
        |  UNION ALL
        |  SELECT 'len_chars', 'min', min(len) FROM base
        |  UNION ALL
        |  SELECT 'len_chars', 'mean', round(avg(len), 4) FROM base
        |  UNION ALL
        |  SELECT 'len_chars', 'max', max(len) FROM base
        |  UNION ALL
        |  SELECT 'len_chars', 'p50',
        |    max(CASE WHEN rk = CAST(ceil(0.5 * n.n) AS BIGINT) THEN v END)
        |  FROM r CROSS JOIN n
        |  UNION ALL
        |  SELECT 'len_chars', 'p90',
        |    max(CASE WHEN rk = CAST(ceil(0.9 * n.n) AS BIGINT) THEN v END)
        |  FROM r CROSS JOIN n
        |  UNION ALL
        |  SELECT 'count_lang', coalesce(CAST(lang AS VARCHAR), 'null'),
        |    CAST(count(*) AS DOUBLE)
        |  FROM base GROUP BY 2
        |  UNION ALL
        |  SELECT 'count_source', coalesce(CAST(source AS VARCHAR), 'null'),
        |    CAST(count(*) AS DOUBLE)
        |  FROM base GROUP BY 2
        |  UNION ALL
        |  SELECT 'dup', 'dup_fingerprints', CAST(count(*) AS DOUBLE)
        |  FROM (SELECT fp FROM base GROUP BY fp HAVING count(*) > 1)
        |  UNION ALL
        |  SELECT 'dup', 'dup_docs',
        |    CAST(coalesce(sum(c), 0) AS DOUBLE)
        |  FROM (SELECT count(*) AS c FROM base GROUP BY fp
        |        HAVING count(*) > 1))
        |SELECT section, key, round(value, 4) AS value FROM card
        |ORDER BY section, key""".stripMargin),
    // same blocking, DuckDB's own jaro_winkler_similarity as the
    // score; both engines cut on the 4-dp rounded value
    QuerySpec("q210_jaro_linkage", q210JaroLinkage,
      """WITH names AS (
        |  SELECT lower(trim(p_name)) AS name, count(*) AS n_rows
        |  FROM part WHERE p_name IS NOT NULL
        |    AND lower(trim(p_name)) <> ''
        |  GROUP BY 1),
        |blocked AS (
        |  SELECT name, n_rows,
        |    regexp_extract(name, '(\S+)$', 1) AS block
        |  FROM names)
        |SELECT a.block, a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 4) AS jw,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        |FROM blocked a JOIN blocked b
        |  ON a.block = b.block AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 4) >= 0.9
        |ORDER BY name_a, name_b""".stripMargin),
    // the PLAIN overlap join over independently-derived sessions: the
    // engine's bucket grid + canonical-bucket dedup must reproduce it
    // row for row
    QuerySpec("q209_overlap_join", q209OverlapJoin,
      """WITH sess AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type,
        |    epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e,
        |    count(*) AS n
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1, 2, 3),
        |v AS (SELECT user_id, day, s AS v_start, e AS v_end,
        |    n AS v_events FROM sess WHERE event_type = 'view'),
        |p AS (SELECT user_id, day, s AS p_start, e AS p_end,
        |    n AS p_events FROM sess WHERE event_type = 'purchase')
        |SELECT v.user_id, v.day, v.v_events, p.p_events,
        |  greatest(v.v_start, p.p_start) AS overlap_start,
        |  least(v.v_end, p.p_end) AS overlap_end,
        |  round((least(v.v_end, p.p_end)
        |    - greatest(v.v_start, p.p_start)) / 1000000.0, 3) AS overlap_sec
        |FROM v JOIN p ON p.user_id = v.user_id AND p.day = v.day
        |  AND v.v_end >= p.p_start AND p.p_end >= v.v_start
        |ORDER BY 1, 2""".stripMargin),
    // the same argmax restated: cell counts, per-group max, min value
    // on the tie edge
    QuerySpec("q208_mode", q208Mode,
      """WITH cells AS (
        |  SELECT o_orderstatus, o_orderpriority AS v, count(*) AS c
        |  FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2),
        |best AS (
        |  SELECT o_orderstatus, max(c) AS mode_count,
        |    count(*) AS n_distinct
        |  FROM cells GROUP BY 1)
        |SELECT b.o_orderstatus, min(c.v) AS mode_value,
        |  b.mode_count, b.n_distinct
        |FROM best b JOIN cells c
        |  ON c.o_orderstatus = b.o_orderstatus AND c.c = b.mode_count
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin)
  )
}
