package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.Classifier

/** Second tranche of text-analysis operators for the training-data
  * pipeline: repetition scoring, corpus vocabulary, TF-IDF, and
  * pattern counting — all pure column expressions / relational ops with
  * DuckDB oracles. */
object TextQueries2 {

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** Repetition ratio — the boilerplate/spam signal: 1 − |distinct
    * shingles| / |shingle positions|. High ratio ⇒ the document repeats
    * itself; a standard pre-training quality filter. */
  def q49Repetition(s: SparkSession, d: String): DataFrame = {
    docs(s, d)
      .withColumn("toks", TextFunctions.tokens("text"))
      .filter(size(col("toks")) >= 3)
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - 2).as("n_shingle_positions"),
        size(TextFunctions.shingles("toks")).as("n_distinct_shingles"),
        round(lit(1.0) - size(TextFunctions.shingles("toks")).cast("double") /
          (size(col("toks")) - 2), 4).as("repetition_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: top 50 tokens by document frequency with
    * deterministic tie-break — explode → two-level aggregate → ordered
    * limit (map-side partial aggregation keeps the shuffle narrow). */
  def q50VocabTopK(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(array_distinct(TextFunctions.tokens("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(50)

  /** TF-IDF: term frequency × inverse document frequency, top 3 terms
    * per document (tie-break on term). idf = ln(N / df) over distinct-
    * per-doc terms; tf = in-doc count / doc length. The doc-count
    * scalar joins in as a broadcast literal-free cross join (1 row). */
  def q51TfIdf(s: SparkSession, d: String): DataFrame = {
    // one corpus explode: doc length (= sum of tf), document frequency
    // (= tf rows per token), and the tf table itself all derive from
    // the same (doc, token) aggregate, so ReuseExchange runs the
    // explode once (the per-consumer formulation scanned the corpus 4×
    // — the q97 lesson applied here). Keys wrapped non-null so
    // join-inserted isnotnull filters can't split the shared subtree
    // (precondition: doc ids non-null, guaranteed by the pinned schema).
    val toks = docs(s, d)
      .select(coalesce(col("doc_id"), lit(-1L)).as("doc_id"),
        explode(TextFunctions.tokens("text")).as("token0"))
      .select(col("doc_id"), coalesce(col("token0"), lit("")).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf_count"))
    val docLen = tf.groupBy("doc_id").agg(sum("tf_count").as("doc_len"))
    // tf_count > 0 is a tautology the optimizer can't prove — it pins
    // the counted aggregate so this branch reuses the tf exchange
    // instead of collapsing to its own distinct-over-explode scan
    val df_ = tf.filter(col("tf_count") > 0)
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
    // n_docs comes from the raw table (a doc_id-pruned columnar scan),
    // not the token pipeline — cheaper than any derivation at scale
    val n = docs(s, d).select(countDistinct("doc_id").as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_raw").desc, col("token"))
    tf.join(docLen, "doc_id")
      .join(df_, "token")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        (col("tf_count").cast("double") / col("doc_len")) *
          log(col("n_docs").cast("double") / col("doc_freq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("token"), round(col("tfidf_raw"), 6).as("tfidf"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Pattern counting over raw text (PII/URL-shaped scans): counts of
    * simple regex classes per document, aggregated corpus-wide by
    * source. Patterns are kept dialect-neutral (no lookarounds). */
  def q52PatternCounts(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("source"),
        size(expr("regexp_extract_all(text, '[a-z]+[0-9]+', 0)")).as("alnum_runs"),
        size(expr("regexp_extract_all(text, '\\\\b(the|a)\\\\b', 0)")).as("articles"),
        length(col("text")).as("chars"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("alnum_runs").as("total_alnum_runs"),
        sum("articles").as("total_articles"),
        round(avg("chars"), 2).as("avg_chars"))
      .orderBy("source")

  /** Deterministic train/val/test split by md5 hash bucket — stable
    * across engines and runs (the curation property RNG splits lack);
    * per-split, per-lang counts. */
  def q56Split(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.split(docs(s, d), "doc_id")
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n"), round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("split", "lang")

  /** Quality-weighted deterministic downsampling: keep probability
    * scales with document length (proxy quality weight, capped at 1),
    * decided by the doc_id's hash — reproducible sample composition,
    * summarized per language. */
  def q58WeightedSample(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.weightedSample(docs(s, d), "doc_id",
      least(lit(1.0), col("n_chars") / 2000.0))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang")

  /** Train/test contamination audit over the q56 split: per test doc,
    * how many train docs share an n-gram shingle and the deepest
    * overlap. Clean docs appear with zeros — a total audit. */
  def q59Contamination(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.contaminationReport(docs(s, d)).orderBy("test_doc")

  /** Deterministic sequence packing: per-shard cumulative token counts
    * cut into 512-token training sequences; windows stay partition-
    * local (shard = doc_id % 8), so the packing parallelizes. */
  def q60Pack(s: SparkSession, d: String): DataFrame =
    graft.operators.Curation.packSequences(
      docs(s, d).withColumn("toks", TextFunctions.tokens("text")),
      "doc_id", size(col("toks")).cast("long"), budgetTokens = 512, shards = 8)
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("cum_tokens"), col("seq_id"))
      .orderBy("doc_id")

  /** Stratified sampling + ratio-controlled mixing — the corpus-
    * composition move: per-language keep fractions (zh absent from the
    * map ⇒ dropped, proving the default-drop path), then the sampled
    * corpus is split into two disjoint "sources" (even/odd source id)
    * and re-mixed at 0.9 / 0.35 weights. All keep decisions are md5
    * hash-bucket arithmetic on doc_id (deterministic across engines,
    * runs, and cluster sizes — no RNG state), which is exactly what
    * lets the DuckDB oracle replicate the sample membership bit for
    * bit. Summarized per (lang, source parity). */
  def q81StratifiedMix(s: SparkSession, d: String): DataFrame = {
    val sampled = graft.operators.Curation.stratifiedSample(
      docs(s, d), "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.8, "fr" -> 0.25, "es" -> 0.6))
    val srcParity = pmod(expr("CAST(substr(source, 4, 10) AS INT)"), lit(2))
    val even = sampled.filter(srcParity === 0)
    val odd = sampled.filter(srcParity === 1)
    graft.operators.Curation.mix(Seq((even, 0.9), (odd, 0.35)), "doc_id")
      .groupBy(col("lang"), srcParity.as("src_parity"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        round(avg("n_chars"), 2).as("avg_chars"))
      .orderBy("lang", "src_parity")
  }

  /** Sketch-accuracy audit — the 100 TB cardinality toolkit, checked
    * against itself: per event_type, the engine's OWN cross-engine
    * sketches next to their EXACT counterparts, with error columns in
    * the output. r11 (verdict item 7): the sketch side moved from
    * Spark-internal HLL++/`approx_percentile` (whose register bits no
    * other engine can replay — the audit was rows-only) to the repo's
    * md5-HLL ([[graft.operators.Hll]], the q231 discipline) and a
    * 256-bin histogram median (the Quantiles bucket discipline, bucket
    * midpoint at the (n+1) div 2 rank) — both deterministic arithmetic
    * DuckDB replays bit for bit, so the audit itself is now
    * hash-checked. These are also the sketches the engine would
    * actually ship at 100 TB: the md5-HLL register table is the
    * engine-portable mergeable state (q231/q234/q236/q262), where
    * HLL++ bits are locked to one implementation. The exact half
    * remains split out as [[q62bSketchExact]]. At 100 TB the approx
    * side stays one mergeable pass per sketch (no distinct shuffle
    * explosion, no full sort) — that is the point of shipping both. */
  def q62SketchAudit(s: SparkSession, d: String): DataFrame = {
    val nB = 256
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"), col("value"))
    val stats = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        expr("percentile(value, 0.5)").as("exact_p50_raw"),
        min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
      .transform(graft.plans.Pin.eager) // |event_type| rows, read 3×
    val rank = expr("(n + 1) div 2")
    val bucketed = ev
      .join(broadcast(stats.select("event_type", "lo", "hi")), Seq("event_type"))
      .withColumn("b", when(col("hi") === col("lo"), lit(0)).otherwise(
        least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * nB)
          .cast("int"), lit(nB - 1))))
      .groupBy("event_type", "b").agg(count(lit(1)).as("bc"))
    val approx = bucketed
      .withColumn("cum", sum("bc").over(
        Window.partitionBy("event_type").orderBy("b")))
      .join(broadcast(stats.select("event_type", "n", "lo", "hi")), Seq("event_type"))
      .filter(col("cum") >= rank && col("cum") - col("bc") < rank)
      .select(col("event_type"),
        (col("lo") + (col("b") + 0.5) * (col("hi") - col("lo")) / nB)
          .as("approx_p50_raw"))
    val hll = graft.operators.Hll.estimateDistinct(ev, "user_id", Seq("event_type"))
      .select(col("event_type"), col("hll_estimate").as("approx_users"))
    stats.join(hll, Seq("event_type"))
      .join(approx, Seq("event_type"))
      .select(
        col("event_type"), col("exact_users"), col("approx_users"),
        round(abs(col("approx_users") - col("exact_users")) /
          col("exact_users"), 4).as("users_rel_err"),
        round(col("exact_p50_raw"), 4).as("exact_p50"),
        round(col("approx_p50_raw"), 4).as("approx_p50"),
        round(abs(col("approx_p50_raw") - col("exact_p50_raw")), 4).as("p50_abs_err"))
      .orderBy("event_type")
  }

  /** The exact half of the q62 audit, split out for the hash oracle:
    * per event_type, exact distinct users and the exact interpolated
    * median — both engine-replicable (Spark `percentile` and DuckDB
    * `quantile_cont` share the rank = p·(n−1) linear-interpolation
    * definition). Aggregated doubles rounded per the oracle
    * discipline. */
  def q62bSketchExact(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("exact_users"),
        expr("percentile(value, 0.5)").as("p50"))
      .select(col("event_type"), col("exact_users"),
        round(col("p50"), 4).as("exact_p50"))
      .orderBy("event_type")

  /** Text normalization + PII redaction: whitespace-squash + lowercase,
    * then replace emails and IPv4s with placeholders — the scrub stage
    * every shipped training corpus runs. Deterministic planted PII docs
    * are unioned in-query (q16/q41 pattern) so the check can never be
    * vacuously green on a clean corpus; the oracle hashes the full
    * redacted text (md5), so a single unredacted byte flips the check. */
  def q67NormalizeRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val planted = Seq(
      (-1L, "Contact John Doe at john.doe@example.com  or 10.0.0.1 for details"),
      (-2L, "no pii here just ordinary words"),
      (-3L, "two emails a@b.co c@d.org and an ip 192.168.1.255 end")).toDF("doc_id", "text")
    val all = docs(s, d).select(col("doc_id"), col("text")).unionByName(planted)
    val norm = lower(trim(regexp_replace(col("text"), "\\s+", " ")))
    val redacted = regexp_replace(regexp_replace(norm, emailRe, "<email>"), ipRe, "<ip>")
    all.select(
      col("doc_id"),
      size(regexp_extract_all(norm, lit(emailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(norm, lit(ipRe), lit(0))).as("n_ips"),
      length(redacted).as("n_chars_redacted"),
      md5(redacted).as("redacted_fp"))
      .orderBy("doc_id")
  }

  /** Single-pass heavy hitters vs exact counts — the remaining member
    * of the 100 TB sketch toolkit (q62 covers HLL + quantile sketches,
    * q84 Bloom membership): `stat.freqItems` implements the
    * Karp-Papadimitriou-Shenker one-pass algorithm, whose contract is
    * NO FALSE NEGATIVES — every token with frequency > support·N must
    * be in the sketch result (false positives allowed). The query
    * surfaces that contract in-row: for each exact heavy hitter,
    * `in_sketch`; `n_missed` (constant) must be 0. At 100 TB the
    * sketch is one mergeable pass with a 1/support-bounded result —
    * no full token aggregation, no sort.
    *
    * FULL hash oracle, despite the sketch: the output rows are exactly
    * the true heavy hitters, for which the KPS no-false-negative
    * guarantee makes `in_sketch` DETERMINISTICALLY 1 and `n_missed`
    * 0 — so the oracle states the contract-mandated values and the
    * driver's hash check becomes the contract check (a sketch miss
    * flips in_sketch to 0 and the hash fails). */
  def q86HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val support = 0.02
    val toks = docs(s, d)
      .select(explode(TextFunctions.tokens("text")).as("token"))
    val total = toks.count()
    // 1-row result, ≤ 1/support items — a bounded sketch artifact, same
    // driver-size class as IVF centroids
    val sketch = toks.stat.freqItems(Seq("token"), support)
      .head().getSeq[String](0).toSet
    val hitters = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") > support * total)
      .select(col("token"), col("n").as("exact_count"),
        col("token").isin(sketch.toSeq: _*).cast("int").as("in_sketch"))
    val guarantee = hitters.agg(
      sum(when(col("in_sketch") === 0, 1).otherwise(0)).as("n_missed"))
    hitters.crossJoin(broadcast(guarantee)).orderBy("token")
  }

  /** Count-min sketch vs exact counts — completes the mergeable-sketch
    * toolkit (q62 HLL + quantile, q84 Bloom, q86 KPS frequent items).
    * The sketch is a d=5 × w=2048 counter grid whose row hashes are
    * md5-derived (`md5(row ':' token)` → first 6 hex chars mod w) —
    * the SAME construction both engines can compute exactly, which is
    * what upgrades this query from rows-only to a FULL hash oracle:
    * the estimates themselves (not just the verdict) are hash-checked.
    * (Spark's native `count_min_sketch` aggregate is the same
    * structure with an unexposed murmur hash layout — the md5 variant
    * trades a few ns/hash for cross-engine replicability.)
    *
    * Scale shape: the corpus pays ONE token explode+aggregate (the
    * exact count table — which the heavy-hitter side needs anyway, so
    * the exchange is reused); the grid then builds from that
    * VOCAB-sized table exploded ×d — summing per-token counts into a
    * bucket is arithmetic identical to hashing every occurrence, at
    * 1/avg-tf the hash work — with map-side combine into ≤ d·w
    * aggregated cells, never per-key state. Probes join the broadcast
    * cell table and take min over d rows. The CMS contract — estimates
    * NEVER underestimate; overestimate bounded by collisions — is
    * surfaced in-row: `n_underestimates` must be 0, `rel_err` shows
    * the collision inflation next to ground truth. */
  def q99CountMin(s: SparkSession, d: String): DataFrame = {
    val support = 0.02
    val depth = 5
    val width = 2048
    val toks = docs(s, d)
      .select(explode(TextFunctions.tokens("text")).as("token"))
    val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_count"))
    val total = exact.agg(sum("exact_count")).head().getLong(0)
    val hitters = exact.filter(col("exact_count") > support * total)
    def bucket(tok: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(col("r"), lit(":"), tok)), 1, 6), 16, 10)
        .cast("long") % width
    val rows = explode(sequence(lit(0), lit(depth - 1))).as("r")
    val cells = exact.select(col("token"), col("exact_count"), rows)
      .select(col("r"), bucket(col("token")).as("bucket"), col("exact_count"))
      .groupBy("r", "bucket").agg(sum("exact_count").as("c"))
    val probed = hitters.select(col("token"), col("exact_count"), rows)
      .withColumn("bucket", bucket(col("token")))
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy("token", "exact_count")
      .agg(min("c").as("cms_estimate"))
      .withColumn("rel_err",
        round((col("cms_estimate") - col("exact_count")) / col("exact_count"), 4))
    val g = probed.agg(
      sum((col("cms_estimate") < col("exact_count")).cast("int")).as("n_underestimates"))
    probed.crossJoin(broadcast(g)).orderBy("token")
  }

  /** Bloom decontamination funnel, self-evidencing: every train doc
    * with its exact shared-shingle count against the test split AND the
    * bloom pre-filter verdict. The Bloom no-false-negative guarantee is
    * surfaced in-row: `n_missed` (docs with exact hits but no bloom
    * hit) is 0 by construction of the sketch — any other value is a
    * bug — and `n_pruned` shows the work the funnel saves the exact
    * join. Since r9 this runs the md5 Kirsch–Mitzenmacher ORACLE mode
    * ([[graft.operators.Curation]] md5BloomPrefilter) → FULL hash
    * oracle: DuckDB rebuilds the bit set from the test shingles'
    * md5-derived positions and re-derives every membership verdict;
    * the xxhash64 binary-sketch mode remains the production default. */
  def q84BloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val all = docs(s, d)
    val pre = graft.operators.Curation.bloomContaminationPrefilter(all, fpp = 0.01,
        md5Oracle = true)
      .select(col("train_doc"), col("bloom_hit"))
    val tagged = graft.operators.Curation.split(all, "doc_id")
      .withColumn("toks", TextFunctions.tokens("text"))
      .withColumn("sh", TextFunctions.shingles("toks"))
      .select(col("doc_id"), col("split"), col("sh"))
    val inv = tagged.select(col("doc_id"), col("split"), explode(col("sh")).as("shingle"))
    val exact = inv.filter(col("split") === "train")
      .select(col("shingle"), col("doc_id").as("train_doc"))
      .join(inv.filter(col("split") === "test").select(col("shingle")), Seq("shingle"))
      .groupBy("train_doc").agg(count(lit(1)).as("n_exact_hits"))
    val rows = pre.join(exact, Seq("train_doc"), "left")
      .select(col("train_doc"), coalesce(col("n_exact_hits"), lit(0L)).as("n_exact_hits"),
        col("bloom_hit"))
    val guarantee = rows.agg(
      sum(when(col("n_exact_hits") > 0 && !col("bloom_hit"), 1).otherwise(0)).as("n_missed"),
      sum(when(!col("bloom_hit"), 1).otherwise(0)).as("n_pruned"))
    rows.crossJoin(broadcast(guarantee)).orderBy("train_doc")
  }

  /** Zero-pass quality counters via the Observation API: the metrics
    * accumulate WHILE the frame's one materializing action runs (here a
    * count standing in for the production write), so the quality gate
    * costs no second scan — at 100 TB the difference between
    * instrumented and un-instrumented pipelines. Null rows are planted
    * in-query (q67 pattern) so the null counters are provably non-zero,
    * and the oracle recomputes every metric relationally. The single
    * driver action is intrinsic to the operator: Observation metrics
    * are defined as "read after the action completes". */
  def q83ObserveQuality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (-1L, null.asInstanceOf[String], "en"),
      (-2L, "text present lang missing", null.asInstanceOf[String]),
      (-3L, null.asInstanceOf[String], null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    val all = docs(s, d).select(col("doc_id"), col("text"), col("lang"))
      .unionByName(planted)
    val (framed, obs) = graft.operators.QualityOps.observeQuality(all, Seq("text", "lang"))
    val nLongDocs = framed.filter(coalesce(length(col("text")), lit(0)) >= 100).count()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long],
      m("nulls_text").asInstanceOf[Long],
      m("nulls_lang").asInstanceOf[Long],
      nLongDocs))
      .toDF("n_rows", "nulls_text", "nulls_lang", "n_long_docs")
  }

  /** End-to-end corpus build — the flagship curation composition:
    * quality gate (≥20 tokens) → exact dedup (min-id survivor per
    * content hash) → deterministic train/val/test split → per-(split,
    * shard) sequence packing. Every stage is an already-verified
    * operator; this query proves they COMPOSE — one plan, no
    * driver-side data movement, every stage an equi-shuffle or
    * partition-local window. */
  def q69CorpusBuild(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .withColumn("n_tokens",
        size(TextFunctions.tokens("text")).cast("long"))
      .filter(col("n_tokens") >= 20)
    val deduped = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .filter(col("rn") === 1)
    val tagged = graft.operators.Curation.split(deduped, "doc_id")
    graft.operators.Curation
      .packSequences(tagged, "doc_id", col("n_tokens"), 512, 8, Seq("split"))
      .select(col("doc_id"), col("split"), col("shard"), col("n_tokens"),
        col("cum_tokens"), col("seq_id"))
      .orderBy("doc_id")
  }

  /** Trained quality classifier (CCNet-shape: logistic regression over
    * hashed BOW, Wenzek et al. 2020 §4.3) — guarantee-carrying trace
    * like q100's Lloyd's certificate. The training corpus is PLANTED
    * and generated distributively (`range` → token synthesis in SQL,
    * never a driver-side literal table): even ids draw 8 tokens from a
    * 16-word "good" vocabulary, odd ids from a disjoint "junk" one,
    * both share neutral filler — linearly separable by construction,
    * and the xxhash64 feature bucketing is deterministic, so the
    * learnability certificate is machine-stable.
    *
    * One row per GD iteration: (iter, loss, acc, monotone_ok) plus
    * constant in-row guarantees — `final_acc` = 1.0 (separable data
    * fully learned), `n_violations` = 0 (batch GD on L-smooth log-loss
    * with in-bound lr is monotone), `probe_correct` = 2 (two UNSEEN
    * token mixes classified right), and the real-corpus scoring pass
    * (`n_scored_real`, `mean_real_score`) exercising the frozen-weights
    * map-side path on the documents table.
    *
    * Since r12 the query runs in the CROSS-ENGINE mode and carries a
    * FULL hash oracle (the q90/q100/q237 unroll discipline applied to
    * the last float-iterative holdout): md5-h1 feature bucketing
    * (replayable by any engine that can md5 a string) and the
    * float-cast weight update (`Classifier.trainLogisticTrace`
    * floatCast — the q90 centroid trick: the cast absorbs
    * partial-aggregation-order and libm-exp last-ulp noise, making the
    * 15-round trajectory machine-stable). DuckDB replays all 15 GD
    * iterations as unrolled CTE blocks over a 257-row (bucket, weight)
    * table. xxhash64 + full-double training stays the production
    * default in [[graft.operators.Classifier]]. */
  def q107QualityClassifier(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val train = s.range(240).select(
      (pmod(col("id"), lit(2)) === 0).cast("double").as("label"),
      concat(
        expr("concat_ws(' ', transform(sequence(0, 7), i -> concat(" +
          "CASE WHEN id % 2 = 0 THEN 'good' ELSE 'junk' END, pmod(id * 7 + i, 16))))"),
        lit(" the data of and")).as("text"))
    val (w, trace) = Classifier.trainLogisticTrace(s, train, "label",
      dim = 256, maxIter = 15, lr = 1.0, md5Mode = true, floatCast = true)
    val probes = Seq((1.0, "good1 good5 good9 good14 the data"),
      (0.0, "junk2 junk6 junk11 junk15 of and")).toDF("want", "text")
    val probeCorrect = Classifier.scoreLogistic(s, probes, w, dim = 256,
        md5Mode = true)
      .filter(col("pred") === (col("want") === 1.0)).count()
    val scored = Classifier.scoreLogistic(s, docs(s, d), w, dim = 256,
        md5Mode = true)
      .agg(count(lit(1)).as("n"), avg("score").as("m")).head()
    val rows = trace.zipWithIndex.map { case ((loss, acc), t) =>
      val ok = t == 0 || loss <= trace(t - 1)._1 + 1e-12
      (t + 1,
        BigDecimal(loss).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(acc).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, ok)
    }
    val nViolations = rows.count(!_._4)
    rows.toSeq.toDF("iter", "loss", "acc", "monotone_ok")
      .withColumn("final_acc", lit(rows.last._3))
      .withColumn("n_violations", lit(nViolations))
      .withColumn("probe_correct", lit(probeCorrect))
      .withColumn("n_scored_real", lit(scored.getLong(0)))
      .withColumn("mean_real_score",
        lit(BigDecimal(scored.getDouble(1)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .orderBy("iter")
  }

  /** The q107 oracle: all 15 batch-GD iterations unrolled as DuckDB CTE
    * blocks over a 257-row (bucket, weight) table — the q100/q237
    * iterative-unroll discipline applied to logistic regression. Each
    * iteration block: per-doc margin/σ at the INCOMING weights (loss +
    * accuracy read here, matching the engine's trace-before-update), a
    * per-bucket gradient aggregate, and the float-cast weight update
    * (`CAST(... AS REAL)` — the exactly-defined IEEE narrowing both
    * engines share, which absorbs summation-order and libm-exp
    * last-ulp noise; see `Classifier.trainLogisticTrace` floatCast).
    * Buckets are md5-h1 % dim, the repo's standard cross-engine hash.
    * The planted 240-row corpus is regenerated relationally, the two
    * probes are scored against w15, and the real-corpus pass replays
    * the frozen-weight σ over `documents`.
    *
    * Residual cross-engine risk (r13 ADVICE, acknowledged): the float
    * cast makes the ITERATION state exactly reproducible, but
    * `loss_raw`/`acc` and `mean_real_score` are still independently
    * summed doubles compared after 6/4-dp rounding — a value landing
    * within an ulp of a rounding boundary could flip the last digit
    * between engines. Same residual as every rounded-aggregate oracle
    * in the repo (see the CoreQueries rounding discipline); gated
    * empirically by the 291/291 hash suite, and the fix if it ever
    * fires is to widen the rounding at the reporting column, never to
    * touch the float-cast state chain. */
  private def q107OracleSql(nIter: Int): String = {
    val bucket = "('0x' || substr(md5(tok), 1, 15))::BIGINT % 256"
    val clamp = "greatest(1e-15, least(1.0 - 1e-15, p))"
    val base =
      s"""WITH train AS MATERIALIZED (
         |  SELECT id,
         |    CASE WHEN id % 2 = 0 THEN 1.0 ELSE 0.0 END AS y,
         |    list_transform(range(0, 8), i ->
         |      (CASE WHEN id % 2 = 0 THEN 'good' ELSE 'junk' END)
         |        || ((id * 7 + i) % 16))
         |      || ['the', 'data', 'of', 'and'] AS toks
         |  FROM range(240) t(id)),
         |feats AS MATERIALIZED (
         |  SELECT id, y, b, CAST(count(*) AS DOUBLE) AS cnt FROM (
         |    SELECT id, y, $bucket AS b
         |    FROM (SELECT id, y, unnest(toks) AS tok FROM train))
         |  GROUP BY 1, 2, 3
         |  UNION ALL SELECT id, y, 256 AS b, 1.0 FROM train),
         |w0 AS MATERIALIZED (
         |  SELECT unnest(range(0, 257)) AS b, CAST(0.0 AS DOUBLE) AS w)""".stripMargin
    val iters = (1 to nIter).map { t =>
      val p = t - 1
      s"""m$t AS MATERIALIZED (
         |  SELECT f.id, f.y, 1.0 / (1.0 + exp(-sum(w.w * f.cnt))) AS p
         |  FROM feats f JOIN w$p w USING (b) GROUP BY 1, 2),
         |l$t AS MATERIALIZED (
         |  SELECT $t AS iter,
         |    avg(-y * ln($clamp) - (1.0 - y) * ln(1.0 - $clamp)) AS loss_raw,
         |    avg(CASE WHEN (p >= 0.5) = (y >= 0.5) THEN 1.0 ELSE 0.0 END) AS acc_raw
         |  FROM m$t),
         |w$t AS MATERIALIZED (
         |  SELECT w.b,
         |    CAST(CAST(w.w - COALESCE(g.g, 0.0) / 240.0 AS REAL) AS DOUBLE) AS w
         |  FROM w$p w LEFT JOIN (
         |    SELECT f.b, sum((m.p - m.y) * f.cnt) AS g
         |    FROM feats f JOIN m$t m USING (id) GROUP BY 1) g USING (b))""".stripMargin
    }
    val traceUnion = (1 to nIter).map(t => s"SELECT * FROM l$t").mkString(" UNION ALL ")
    val tail =
      s"""trace AS MATERIALIZED (
         |  SELECT iter, loss_raw, acc_raw,
         |    (iter = 1 OR loss_raw <= lag(loss_raw) OVER (ORDER BY iter) + 1e-12)
         |      AS monotone_ok
         |  FROM ($traceUnion)),
         |probes AS (SELECT * FROM (VALUES
         |    (1.0, ['good1', 'good5', 'good9', 'good14', 'the', 'data']),
         |    (0.0, ['junk2', 'junk6', 'junk11', 'junk15', 'of', 'and']))
         |  p(want, toks)),
         |pfe AS (
         |  SELECT want, b, CAST(count(*) AS DOUBLE) AS cnt FROM (
         |    SELECT want, $bucket AS b
         |    FROM (SELECT want, unnest(toks) AS tok FROM probes))
         |  GROUP BY 1, 2
         |  UNION ALL SELECT want, 256 AS b, 1.0 FROM probes),
         |psc AS (
         |  SELECT f.want, 1.0 / (1.0 + exp(-sum(w.w * f.cnt))) AS score
         |  FROM pfe f JOIN w$nIter w USING (b) GROUP BY 1),
         |pok AS (
         |  SELECT CAST(sum(CASE WHEN (score >= 0.5) = (want = 1.0)
         |    THEN 1 ELSE 0 END) AS BIGINT) AS pc FROM psc),
         |rfe AS MATERIALIZED (
         |  SELECT doc_id, b, CAST(count(*) AS DOUBLE) AS cnt FROM (
         |    SELECT doc_id, $bucket AS b FROM (
         |      SELECT doc_id,
         |        unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |      FROM documents))
         |  GROUP BY 1, 2
         |  UNION ALL SELECT doc_id, 256 AS b, 1.0 FROM documents),
         |rsc AS (
         |  SELECT f.doc_id, 1.0 / (1.0 + exp(-sum(w.w * f.cnt))) AS score
         |  FROM rfe f JOIN w$nIter w USING (b) GROUP BY 1),
         |ragg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n, round(avg(score), 4) AS m
         |  FROM rsc)
         |SELECT CAST(t.iter AS INTEGER) AS iter,
         |  round(t.loss_raw, 6) AS loss, round(t.acc_raw, 4) AS acc,
         |  t.monotone_ok,
         |  (SELECT round(acc_raw, 4) FROM trace WHERE iter = $nIter) AS final_acc,
         |  CAST((SELECT count(*) FROM trace WHERE NOT monotone_ok) AS INTEGER)
         |    AS n_violations,
         |  (SELECT pc FROM pok) AS probe_correct,
         |  (SELECT n FROM ragg) AS n_scored_real,
         |  (SELECT m FROM ragg) AS mean_real_score
         |FROM trace t ORDER BY t.iter""".stripMargin
    (Seq(base) ++ iters ++ Seq(tail)).mkString(",\n")
  }

  /** BPE vocabulary induction ([[graft.operators.Bpe.learnMerges]],
    * Sennrich et al. 2016): 16 merges learned over the top-1500-word
    * histogram of the documents corpus — the tokenizer-training
    * operator. All-integer state with total tie-breaks makes this the
    * rare ITERATIVE training loop with a FULL cross-engine oracle:
    * DuckDB replays all 16 iterations as unrolled CTE blocks, with the
    * engine's greedy left-to-right merge scan restated as the
    * run-parity window rule (greedy = every match position, except
    * only even offsets within runs of CONSECUTIVE match positions —
    * runs only arise when lsym = rsym; see [[
    * org.apache.spark.sql.catalyst.expressions.graft.BpeMerge]]). */
  def q237BpeVocab(s: SparkSession, d: String): DataFrame =
    graft.operators.Bpe.learnMerges(docs(s, d), "text",
      nMerges = 16, topWords = 1500).orderBy("step")

  /** The q237 oracle: base histogram + 16 unrolled merge iterations.
    * Each iteration block: pair-count aggregate → 1-row argmax (count
    * DESC, symbols ASC — binary collation both sides) → position
    * explode → match flags → run-parity greedy selection → list
    * rebuild dropping consumed positions. */
  private def bpeOracleSql(nMerges: Int): String = {
    // every w/m CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    // REFERENCE, and each iteration references its predecessor more
    // than once — unmaterialized, the 16-deep chain re-expands
    // exponentially (observed as an fd-exhaustion failure)
    val base =
      """w0 AS MATERIALIZED (
        |  SELECT word, freq,
        |    list_append(list_transform(range(1, length(word) + 1),
        |      i -> substr(word, i, 1)), '</w>') AS toks
        |  FROM (
        |    SELECT word, count(*) AS freq FROM (
        |      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |      FROM documents) t0
        |    WHERE word <> '' AND length(word) <= 12
        |    GROUP BY word ORDER BY freq DESC, word LIMIT 1500) t)""".stripMargin
    val iters = (1 to nMerges).map { i =>
      val p = i - 1
      s"""p$i AS (
         |  SELECT toks[j] AS l, toks[j + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, toks, unnest(range(1, len(toks))) AS j FROM w$p) t
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |s$i AS (
         |  SELECT word, freq, pos, toks[pos] AS sym,
         |    CASE WHEN pos < len(toks) AND toks[pos] = (SELECT l FROM m$i)
         |          AND toks[pos + 1] = (SELECT r FROM m$i) THEN 1 ELSE 0 END AS mt
         |  FROM (SELECT word, freq, toks,
         |          unnest(range(1, len(toks) + 1)) AS pos FROM w$p) t),
         |k$i AS (
         |  SELECT *, CASE WHEN mt = 1 AND (pos - MIN(pos) OVER
         |      (PARTITION BY word, grp)) % 2 = 0 THEN 1 ELSE 0 END AS keep
         |  FROM (SELECT *, CASE WHEN mt = 1 THEN pos - ROW_NUMBER() OVER
         |          (PARTITION BY word, mt ORDER BY pos) END AS grp
         |        FROM s$i) t),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    list(CASE WHEN keep = 1 THEN sym || (SELECT r FROM m$i)
         |         ELSE sym END ORDER BY pos) AS toks
         |  FROM (SELECT *, COALESCE(LAG(keep) OVER
         |          (PARTITION BY word ORDER BY pos), 0) AS pk FROM k$i) t
         |  WHERE pk = 0
         |  GROUP BY word, freq)""".stripMargin
    }
    val unions = (1 to nMerges).map(i =>
      s"SELECT $i AS step, l AS lsym, r AS rsym, cnt AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"WITH $base,\n${iters.mkString(",\n")}\n$unions\nORDER BY step"
  }

  /** The q287 oracle: the same chain, with the final word state w16
    * joined to an independent (lang, word) running-word histogram. */
  private def fertilityOracleSql(nMerges: Int): String = {
    val chain = bpeOracleSql(nMerges)
    val body = chain.substring(0, chain.indexOf("\nSELECT 1 AS step"))
    s"""$body,
       |wl AS (
       |  SELECT lang, word, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
       |    FROM documents) t
       |  WHERE word <> '' GROUP BY 1, 2),
       |ws AS (SELECT word, CAST(len(toks) AS BIGINT) AS n_subwords FROM w$nMerges)
       |SELECT lang,
       |  CAST(sum(cnt) AS BIGINT) AS total_words,
       |  CAST(sum(CASE WHEN n_subwords IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
       |    AS covered_words,
       |  round(100.0 * sum(CASE WHEN n_subwords IS NOT NULL THEN cnt ELSE 0 END)
       |    / sum(cnt), 4) AS coverage_pct,
       |  round(CAST(sum(CASE WHEN n_subwords IS NOT NULL THEN cnt * n_subwords
       |    ELSE 0 END) AS DOUBLE)
       |    / sum(CASE WHEN n_subwords IS NOT NULL THEN cnt ELSE 0 END), 4)
       |    AS fertility
       |FROM wl LEFT JOIN ws USING (word)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The q241 oracle: the same chain, but the result is the FINAL
    * word state w16 exploded to its subword units. */
  private def bpeSubwordsOracleSql(nMerges: Int): String = {
    val chain = bpeOracleSql(nMerges)
    val body = chain.substring(0, chain.indexOf("\nSELECT 1 AS step"))
    s"""$body
       |SELECT subword, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(freq) AS BIGINT) AS occurrences
       |FROM (SELECT unnest(toks) AS subword, freq FROM w$nMerges) t
       |GROUP BY subword ORDER BY occurrences DESC, subword LIMIT 25""".stripMargin
  }

  /** BPE encode-side audit: the trained tokenizer's top-25 subword
    * units by weighted occurrence ([[graft.operators.Bpe.encode]] —
    * fold the 16 learned merges over the word histogram, explode the
    * final symbol sequences). The merge table is collected driver-side
    * first (16 rows — the MODEL, the same artifact class as k-means
    * centroids) because the encode fold is parameterized by it; the
    * corpus-scale work stays distributed. Oracle: the q237 CTE chain's
    * final state w16, exploded and aggregated identically. */
  def q241BpeSubwords(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val merges = graft.operators.Bpe
      .learnMerges(dd, "text", nMerges = 16, topWords = 1500)
      .orderBy("step").collect()
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
    graft.operators.Bpe.encode(dd, "text", merges, topWords = 1500)
      .select(explode(col("toks")).as("subword"), col("freq"))
      .groupBy("subword")
      .agg(count(lit(1)).as("n_words"), sum("freq").as("occurrences"))
      .orderBy(col("occurrences").desc, col("subword"))
      .limit(25)
  }

  /** Tokenizer fertility by language — the tokenizer-equity audit the
    * multilingual-LM literature reports (BLOOM, Scao et al. 2022: a
    * tokenizer trained on skewed data costs under-represented
    * languages more subwords per word, i.e. fewer effective context
    * tokens): with the q237-trained 16-merge BPE, per language the
    * share of running words the learned vocabulary covers and the
    * FERTILITY (subword units per covered word). Words are the
    * histogram tokenization (lower, [^a-z]+ split); the vocabulary is
    * the top-1500 word table, so coverage is itself a reported column
    * rather than a silent cap. Scale shape: ONE corpus word
    * aggregate keyed by (lang, word) (map-side combinable), then a
    * broadcast join against the 1500-row encode table — the corpus
    * never meets the merge loop. Oracle: the q237 CTE chain's final
    * state w16 joined to the same (lang, word) histogram. */
  def q287TokenizerFertility(s: SparkSession, d: String): DataFrame = {
    val dd = docs(s, d)
    val merges = graft.operators.Bpe
      .learnMerges(dd, "text", nMerges = 16, topWords = 1500)
      .orderBy("step").collect()
      .map(r => (r.getAs[String]("lsym"), r.getAs[String]("rsym"))).toSeq
    val enc = graft.operators.Bpe.encode(dd, "text", merges, topWords = 1500)
      .select(col("word"), size(col("toks")).cast("long").as("n_subwords"))
    val byLangWord = dd
      .select(col("lang"),
        explode(split(lower(col("text")), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    byLangWord.join(broadcast(enc), Seq("word"), "left")
      .groupBy("lang")
      .agg(
        sum("cnt").as("total_words"),
        sum(when(col("n_subwords").isNotNull, col("cnt")).otherwise(0L))
          .as("covered_words"),
        sum(when(col("n_subwords").isNotNull, col("cnt") * col("n_subwords"))
          .otherwise(0L)).as("subword_units"))
      .select(col("lang"), col("total_words"), col("covered_words"),
        round(lit(100.0) * col("covered_words") / col("total_words"), 4)
          .as("coverage_pct"),
        round(col("subword_units").cast("double") / col("covered_words"), 4)
          .as("fertility"))
      .orderBy("lang")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q107_quality_classifier", q107QualityClassifier, q107OracleSql(15)),
    QuerySpec("q237_bpe_vocab", q237BpeVocab, bpeOracleSql(16)),
    QuerySpec("q241_bpe_subwords", q241BpeSubwords, bpeSubwordsOracleSql(16)),
    QuerySpec("q287_tokenizer_fertility", q287TokenizerFertility, fertilityOracleSql(16)),
    // the KPS no-false-negative contract makes in_sketch/n_missed
    // deterministic for true heavy hitters — the oracle states the
    // contract-mandated values, so the hash check IS the contract check
    QuerySpec("q86_heavy_hitters", q86HeavyHitters,
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks),
        |h AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY 1)
        |SELECT h.token, h.exact_count, 1 AS in_sketch,
        |  CAST(0 AS BIGINT) AS n_missed
        |FROM h, tot WHERE h.exact_count > 0.02 * tot.n
        |ORDER BY h.token""".stripMargin),
    // the full md5-seeded count-min grid (d=5, w=2048) restated:
    // identical hashes ⇒ identical cells ⇒ identical estimates
    QuerySpec("q99_count_min", q99CountMin,
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n FROM toks),
        |exact AS (SELECT token, count(*) AS exact_count FROM toks GROUP BY 1),
        |h AS (SELECT e.token, e.exact_count FROM exact e, tot
        |  WHERE e.exact_count > 0.02 * tot.n),
        |r(r) AS (VALUES (0), (1), (2), (3), (4)),
        |cells AS (
        |  SELECT r.r,
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || e.token), 1, 6))::BIGINT
        |      % 2048 AS bucket,
        |    CAST(sum(e.exact_count) AS BIGINT) AS c
        |  FROM exact e CROSS JOIN r GROUP BY 1, 2),
        |probe AS (
        |  SELECT h.token, h.exact_count, r.r,
        |    ('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || h.token), 1, 6))::BIGINT
        |      % 2048 AS bucket
        |  FROM h CROSS JOIN r),
        |est AS (
        |  SELECT p.token, p.exact_count, min(c.c) AS cms_estimate
        |  FROM probe p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
        |  GROUP BY 1, 2),
        |g AS (SELECT CAST(sum(CASE WHEN cms_estimate < exact_count THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_underestimates FROM est)
        |SELECT e.token, e.exact_count, e.cms_estimate,
        |  round((e.cms_estimate - e.exact_count) * 1.0 / e.exact_count, 4) AS rel_err,
        |  g.n_underestimates
        |FROM est e CROSS JOIN g ORDER BY e.token""".stripMargin),
    QuerySpec("q62b_sketch_exact", q62bSketchExact,
      """SELECT event_type,
        |  count(DISTINCT user_id) AS exact_users,
        |  round(quantile_cont(value, 0.5), 4) AS exact_p50
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // the md5-HLL register chain is q231's oracle idiom (b=8, W+1=53,
    // alpha_256*m^2*2^53 = 4.2399330249068963e20, small-range cut
    // 2.5m = 640); the histogram median is the Quantiles bucket rule
    // at rank (n+1) div 2 with the bucket midpoint as the estimate
    QuerySpec("q62_sketch_audit", q62SketchAudit,
      """WITH ev AS (SELECT event_type, user_id, value FROM events),
        |st AS (
        |  SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |    quantile_cont(value, 0.5) AS exact_p50_raw,
        |    min(value) AS lo, max(value) AS hi, count(*) AS n
        |  FROM ev GROUP BY 1),
        |bk AS (
        |  SELECT ev.event_type,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(CAST(floor((value - lo) / (hi - lo) * 256) AS INT), 255)
        |      END AS b
        |  FROM ev JOIN st USING (event_type)),
        |bc AS (SELECT event_type, b, count(*) AS bc FROM bk GROUP BY 1, 2),
        |ap AS (
        |  SELECT c.event_type, lo + (b + 0.5) * (hi - lo) / 256 AS approx_p50_raw
        |  FROM (SELECT event_type, b, bc,
        |      sum(bc) OVER (PARTITION BY event_type ORDER BY b) AS cum FROM bc) c
        |  JOIN st USING (event_type)
        |  WHERE cum >= (n + 1) // 2 AND cum - bc < (n + 1) // 2),
        |h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hsh
        |  FROM ev),
        |r AS (
        |  SELECT event_type, hsh % 256 AS j,
        |    CASE WHEN hsh // 256 > 0 THEN 53 - length(bin(hsh // 256))
        |      ELSE 53 END AS rnk
        |  FROM h),
        |mx AS (SELECT event_type, j, max(rnk) AS mj FROM r GROUP BY 1, 2),
        |sreg AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT)
        |      + (256 - count(*)) * (CAST(1 AS BIGINT) << 53) AS big_s,
        |    CAST(count(*) AS BIGINT) AS n_registers_set
        |  FROM mx GROUP BY 1),
        |est AS (
        |  SELECT event_type,
        |    round(CASE WHEN 4.2399330249068963e+20 / big_s <= 640.0
        |        AND 256 - n_registers_set > 0
        |      THEN 256 * ln(256 / CAST(256 - n_registers_set AS DOUBLE))
        |      ELSE 4.2399330249068963e+20 / big_s END, 2) AS approx_users
        |  FROM sreg)
        |SELECT st.event_type, exact_users, approx_users,
        |  round(abs(approx_users - exact_users) / exact_users, 4) AS users_rel_err,
        |  round(exact_p50_raw, 4) AS exact_p50,
        |  round(approx_p50_raw, 4) AS approx_p50,
        |  round(abs(approx_p50_raw - exact_p50_raw), 4) AS p50_abs_err
        |FROM st JOIN est USING (event_type) JOIN ap USING (event_type)
        |ORDER BY event_type""".stripMargin),
    QuerySpec("q69_corpus_build", q69CorpusBuild,
      """WITH base AS (
        |  SELECT doc_id, text,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents),
        |f AS (SELECT * FROM base WHERE n_tokens >= 20),
        |d AS (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM f),
        |k AS (
        |  SELECT doc_id, n_tokens,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM d WHERE rn = 1),
        |t AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN bucket < 80 THEN 'train'
        |      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        |    doc_id % 8 AS shard
        |  FROM k)
        |SELECT doc_id, split, shard, n_tokens,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512) AS BIGINT) AS seq_id
        |FROM t
        |WINDOW w AS (PARTITION BY split, shard ORDER BY doc_id)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q67_normalize_redact", q67NormalizeRedact,
      """WITH allr AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), 'Contact John Doe at john.doe@example.com  or 10.0.0.1 for details'),
        |    (CAST(-2 AS BIGINT), 'no pii here just ordinary words'),
        |    (CAST(-3 AS BIGINT), 'two emails a@b.co c@d.org and an ip 192.168.1.255 end')
        |  ) AS t(doc_id, text)),
        |n AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm
        |  FROM allr),
        |r AS (
        |  SELECT doc_id, norm,
        |    regexp_replace(regexp_replace(norm,
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<email>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<ip>', 'g') AS redacted
        |  FROM n)
        |SELECT doc_id,
        |  len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(norm, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
        |  length(redacted) AS n_chars_redacted,
        |  md5(redacted) AS redacted_fp
        |FROM r ORDER BY doc_id""".stripMargin),
    QuerySpec("q83_observe_quality", q83ObserveQuality,
      """WITH allr AS (
        |  SELECT doc_id, text, lang FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), CAST(NULL AS VARCHAR), 'en'),
        |    (CAST(-2 AS BIGINT), 'text present lang missing', CAST(NULL AS VARCHAR)),
        |    (CAST(-3 AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR))
        |  ) AS t(doc_id, text, lang))
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_text,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_lang,
        |  CAST(sum(CASE WHEN coalesce(length(text), 0) >= 100 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_long_docs
        |FROM allr""".stripMargin),
    QuerySpec("q81_stratified_mix", q81StratifiedMix,
      """WITH b AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket,
        |    CAST(substr(source, 4) AS INT) % 2 AS src_parity
        |  FROM documents),
        |sampled AS (
        |  SELECT * FROM b
        |  WHERE bucket < CASE lang
        |    WHEN 'en' THEN 50 WHEN 'de' THEN 80
        |    WHEN 'fr' THEN 25 WHEN 'es' THEN 60 ELSE 0 END),
        |mixed AS (
        |  SELECT * FROM sampled
        |  WHERE bucket < CASE WHEN src_parity = 0 THEN 90 ELSE 35 END)
        |SELECT lang, src_parity, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 2) AS avg_chars
        |FROM mixed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q56_split", q56Split,
      """WITH b AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents)
        |SELECT CASE WHEN bucket < 80 THEN 'train'
        |  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        | lang, count(*) AS n, round(avg(n_chars), 2) AS avg_chars
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q58_weighted_sample", q58WeightedSample,
      """WITH k AS (
        |  SELECT * FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
        |          / 281474976710656.0
        |        < least(1.0, n_chars / 2000.0))
        |SELECT lang, count(*) AS n_kept, round(avg(n_chars), 2) AS avg_chars
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin),
    // the md5 Kirsch–Mitzenmacher Bloom rebuilt relationally: bit set
    // = distinct positions pos_i = (h1 mod m + i·(h2 mod m)) mod m of
    // the test shingles (h1/h2 = md5 hex reads, i < 7), sizing
    // integer-only (m = max(64, 10·n_items)) so no libm ulp can flip
    // a position; a train shingle hits iff ALL its positions are set,
    // a doc iff ANY shingle hits — the exact membership algebra the
    // engine's md5BloomPrefilter computes
    QuerySpec("q84_bloom_decontaminate", q84BloomDecontaminate,
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\s+') AS t FROM b),
        |sh AS (
        |  SELECT doc_id, bucket, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, bucket, unnest(s) AS shingle FROM sh),
        |mk AS (SELECT greatest(64, 10 * count(*)) AS m FROM ex WHERE bucket >= 90),
        |tsh AS (SELECT DISTINCT shingle FROM ex WHERE bucket >= 90),
        |bits AS (
        |  SELECT DISTINCT ((('0x' || substr(md5(shingle), 1, 15))::BIGINT % m
        |      + i.i * (('0x' || substr(md5(shingle), 17, 13))::BIGINT % m)) % m) AS pos
        |  FROM tsh CROSS JOIN mk CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i),
        |trsh AS (SELECT doc_id AS train_doc, shingle FROM ex WHERE bucket < 80),
        |trpos AS (
        |  SELECT train_doc, trsh.shingle,
        |    ((('0x' || substr(md5(trsh.shingle), 1, 15))::BIGINT % m
        |      + i.i * (('0x' || substr(md5(trsh.shingle), 17, 13))::BIGINT % m)) % m) AS pos
        |  FROM trsh CROSS JOIN mk CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i),
        |shhit AS (
        |  SELECT train_doc, shingle, bool_and(bits.pos IS NOT NULL) AS sh_hit
        |  FROM trpos LEFT JOIN bits ON trpos.pos = bits.pos
        |  GROUP BY 1, 2),
        |dochit AS (SELECT train_doc, bool_or(sh_hit) AS bloom_hit FROM shhit GROUP BY 1),
        |exact AS (
        |  SELECT tr.train_doc, count(*) AS n_exact_hits
        |  FROM trsh tr JOIN ex te ON te.shingle = tr.shingle AND te.bucket >= 90
        |  GROUP BY 1),
        |rows_out AS (
        |  SELECT s.doc_id AS train_doc,
        |    coalesce(e.n_exact_hits, 0) AS n_exact_hits,
        |    coalesce(d.bloom_hit, false) AS bloom_hit
        |  FROM sh s
        |  LEFT JOIN exact e ON e.train_doc = s.doc_id
        |  LEFT JOIN dochit d ON d.train_doc = s.doc_id
        |  WHERE s.bucket < 80)
        |SELECT train_doc, n_exact_hits, bloom_hit,
        |  CAST(SUM(CASE WHEN n_exact_hits > 0 AND NOT bloom_hit THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_missed,
        |  CAST(SUM(CASE WHEN NOT bloom_hit THEN 1 ELSE 0 END) OVER () AS BIGINT) AS n_pruned
        |FROM rows_out ORDER BY train_doc""".stripMargin),
    QuerySpec("q59_contamination", q59Contamination,
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 AS bucket
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, bucket, string_split_regex(lower(trim(text)), '\s+') AS t FROM b),
        |sh AS (
        |  SELECT doc_id, bucket, list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks WHERE len(t) >= 3),
        |ex AS (SELECT doc_id, bucket, unnest(s) AS shingle FROM sh),
        |ov AS (
        |  SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc, count(*) AS shared
        |  FROM ex te JOIN ex tr ON te.shingle = tr.shingle
        |  WHERE te.bucket >= 90 AND tr.bucket < 80
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT test_doc, count(*) AS n_train_docs, max(shared) AS max_shared
        |  FROM ov GROUP BY 1)
        |SELECT b.doc_id AS test_doc,
        |  coalesce(agg.n_train_docs, 0) AS n_train_docs,
        |  coalesce(agg.max_shared, 0) AS max_shared
        |FROM b LEFT JOIN agg ON agg.test_doc = b.doc_id
        |WHERE b.bucket >= 90
        |ORDER BY test_doc""".stripMargin),
    QuerySpec("q60_pack", q60Pack,
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS shard,
        |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tokens
        |  FROM documents)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(sum(n_tokens) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(floor((sum(n_tokens) OVER w - n_tokens) / 512) AS BIGINT) AS seq_id
        |FROM t
        |WINDOW w AS (PARTITION BY shard ORDER BY doc_id)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q49_repetition", q49Repetition,
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |f AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t WHERE len(toks) >= 3),
        |sh AS (SELECT doc_id, n_tokens,
        |  len(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS n_distinct
        |  FROM f)
        |SELECT doc_id, n_tokens, n_tokens - 2 AS n_shingle_positions,
        | n_distinct AS n_distinct_shingles,
        | round(1.0 - n_distinct * 1.0 / (n_tokens - 2), 4) AS repetition_ratio
        |FROM sh ORDER BY doc_id""".stripMargin),
    QuerySpec("q50_vocab_topk", q50VocabTopK,
      """WITH t AS (
        |  SELECT doc_id, unnest(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS token
        |  FROM documents)
        |SELECT token, count(*) AS doc_freq FROM t
        |GROUP BY 1 ORDER BY doc_freq DESC, token LIMIT 50""".stripMargin),
    QuerySpec("q51_tfidf", q51TfIdf,
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents),
        |doclen AS (SELECT doc_id, count(*) AS doc_len FROM toks GROUP BY 1),
        |tf AS (SELECT doc_id, token, count(*) AS tf_count FROM toks GROUP BY 1,2),
        |df AS (SELECT token, count(*) AS doc_freq FROM (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token,
        |    (tf.tf_count * 1.0 / doclen.doc_len) * ln(n.n_docs * 1.0 / df.doc_freq) AS tfidf_raw
        |  FROM tf JOIN doclen USING (doc_id) JOIN df USING (token) CROSS JOIN n)
        |SELECT doc_id, token, round(tfidf_raw, 6) AS tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, token) AS INT) AS rank
        |FROM scored QUALIFY rank <= 3
        |ORDER BY doc_id, rank""".stripMargin),
    QuerySpec("q52_pattern_counts", q52PatternCounts,
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(regexp_extract_all(text, '[a-z]+[0-9]+'))) AS BIGINT) AS total_alnum_runs,
        | CAST(sum(len(regexp_extract_all(text, '\b(the|a)\b'))) AS BIGINT) AS total_articles,
        | round(avg(length(text)), 2) AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
