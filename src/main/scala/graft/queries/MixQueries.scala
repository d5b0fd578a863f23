package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.plans.Pin

/** Round-10 tranche E: data-mixture and evaluation operators a training
  * pipeline runs between curation and training — temperature-scaled
  * mixture allocation (q274), split-conformal calibration (q275), a
  * join-skew diagnosis (q276), and a vocabulary-coverage/OOV audit
  * (q277). Every query carries a FULL DuckDB hash oracle.
  *
  * Cross-engine float discipline used throughout:
  * - temperatures are powers of two so n^(1/T) is a chain of IEEE
  *   sqrt calls (correctly rounded, bit-identical in any engine) —
  *   never libm pow, whose last ulp is implementation-defined;
  * - every selection boundary (largest-remainder rank, conformal rank
  *   k, p99 rank) is INTEGER arithmetic — ceil(a/b) as
  *   (a + b − 1) div b — so no threshold can flip on a float ulp;
  * - double sums never feed a comparison: fractional weights are
  *   floored to integer units per row (identical inputs → identical
  *   floor) and only the integer units are summed. */
object MixQueries {

  private val tokens = split(lower(trim(col("text"))), "\\s+")

  /** Temperature-scaled mixture allocation (the multilingual-LM
    * sampling rule of Lample & Conneau 2019 / XLM-R: p_i ∝ n_i^(1/T);
    * T=1 is proportional, larger T flattens toward uniform so
    * low-resource sources are up-sampled). Allocates a 1 M-token
    * budget across sources for T ∈ {1, 2, 4} by largest remainder
    * (Hamilton): base_i = floor(B·w_i/Σw), then the shortfall goes to
    * the largest integer remainders (ties → source asc).
    *
    * Exactness: w = n, sqrt(n), sqrt(sqrt(n)) (never pow); weights are
    * normalized by the per-T max (max of doubles is order-free) and
    * floored to 1e9 integer units, so Σw, base, and remainder are all
    * BIGINT — the allocation is bit-reproducible in any engine. ONE
    * full-data aggregate; everything after runs on the
    * |sources|×|temps| frame (broadcast, aggregate-scale windows). */
  def q274TempMixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 1000000L
    val perSrc = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(tokens).cast("long")).as("n_tokens"))
      .transform(Pin.eager)
    val w = perSrc.crossJoin(broadcast(Seq(1, 2, 4).toDF("temp")))
      .withColumn("w",
        when(col("temp") === 1, col("n_tokens").cast("double"))
          .when(col("temp") === 2, sqrt(col("n_tokens").cast("double")))
          .otherwise(sqrt(sqrt(col("n_tokens").cast("double")))))
    val wmax = w.groupBy("temp").agg(max("w").as("wmax"))
    val wu = w.join(broadcast(wmax), "temp")
      .withColumn("w_units",
        floor(col("w") / col("wmax") * lit(1e9)).cast("long"))
    val tot = wu.groupBy("temp").agg(sum("w_units").as("tot_units"))
    val al = wu.join(broadcast(tot), "temp")
      .withColumn("base", expr(s"($budget * w_units) div tot_units"))
      .withColumn("rem_num", expr(s"($budget * w_units) % tot_units"))
    val short = al.groupBy("temp")
      .agg((lit(budget) - sum("base")).as("shortfall"))
    al.join(broadcast(short), "temp")
      .withColumn("rr", row_number().over(
        Window.partitionBy("temp").orderBy(col("rem_num").desc, col("source"))))
      .withColumn("alloc_tokens",
        col("base") + when(col("rr") <= col("shortfall"), 1L).otherwise(0L))
      .select(col("temp"), col("source"), col("n_tokens"),
        round(lit(100.0) * col("w_units") / col("tot_units"), 6).as("target_pct"),
        col("alloc_tokens"),
        round(lit(100.0) * col("alloc_tokens") / budget, 4).as("alloc_pct"))
      .orderBy("temp", "source")
  }

  /** Multimodal training-budget mix — q274's largest-remainder
    * allocation applied to the MULTIMODAL manifest: payloads flow
    * through the [[graft.operators.Multimodal]] decode plumbing (binary
    * column → partition-local feature extraction), land in
    * (modality × lang) cells, and a 10 MB byte budget is split across
    * cells at temperature T=2 (sqrt weights — exact per-value IEEE
    * sqrt, never pow) by the Hamilton method. Deepens the multimodal
    * family past q40/q44: the decode boundary feeds a downstream
    * RELATIONAL stage, which is the actual production shape (decode
    * once, then budget/mix/pack like any other corpus). Modality is
    * manifest metadata, derived here deterministically (doc_id mod 3).
    * Exactness = the q274 discipline: weights normalized by max (order-
    * free), floored to 1e9 integer units, base/remainder/shortfall all
    * BIGINT — bit-reproducible in any engine. One full-data pass (the
    * decode + cell aggregate); everything after runs on the
    * modality×lang cell frame (broadcast, aggregate-scale window). */
  def q298ModalityMix(s: SparkSession, d: String): DataFrame = {
    val budget = 10000000L // bytes
    val docs = Tables.documents(s, d)
    val cells = graft.operators.Multimodal.features(s, docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("modality", expr(
        "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"))
      .groupBy("modality", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("byte_len").as("total_bytes"))
      .transform(Pin.eager)
    val w = cells.withColumn("w", sqrt(col("total_bytes").cast("double")))
    val wmax = w.agg(max("w").as("wmax"))
    val wu = w.crossJoin(broadcast(wmax))
      .withColumn("w_units", floor(col("w") / col("wmax") * lit(1e9)).cast("long"))
    val tot = wu.agg(sum("w_units").as("tot_units"))
    val al = wu.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * w_units) div tot_units"))
      .withColumn("rem_num", expr(s"($budget * w_units) % tot_units"))
    val short = al.agg((lit(budget) - sum("base")).as("shortfall"))
    // bounded window (r16 audit): `al` is the (modality, lang) CELL
    // frame — |modalities|·|langs| rows, a domain constant, not rows
    al.crossJoin(broadcast(short))
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem_num").desc, col("modality"), col("lang"))))
      .withColumn("alloc_bytes",
        col("base") + when(col("rr") <= col("shortfall"), 1L).otherwise(0L))
      .select(col("modality"), col("lang"), col("n_docs"), col("total_bytes"),
        round(lit(100.0) * col("w_units") / col("tot_units"), 6).as("target_pct"),
        col("alloc_bytes"),
        // 100·alloc/1e7 = alloc/1e5 carries EXACTLY 5 decimal digits, so
        // a 4-dp round would sit on a true .5 boundary whenever
        // alloc % 10 = 5 (Spark HALF_UP vs DuckDB binary-round diverge
        // there — measured at sf0.01); 6 dp is above the value's own
        // precision and therefore boundary-free
        round(lit(100.0) * col("alloc_bytes") / budget, 6).as("alloc_pct"))
      .orderBy("modality", "lang")
  }

  /** Split-conformal calibration (Vovk; Angelopoulos & Bates 2021):
    * hold out a calibration split (md5(event_id) mod 5 = 0), take the
    * k-th smallest calibration score with k = ceil((n_cal+1)(1−α)) as
    * the threshold, and audit empirical coverage on the rest — the
    * distribution-free guarantee is coverage ≥ 1−α.
    *
    * The order statistic is selected by the Quantiles two-phase
    * discipline, never a global sort: one (lo, hi, n) aggregate, a
    * 4096-bin histogram (aggregate-scale cumulative window), then a
    * ranking window over ONLY the rows of each α's target bucket
    * (≈ n/4096 rows per α). k is pure integer arithmetic:
    * ((n+1)(100−α%) + 99) div 100, CLAMPED to n_cal: for tiny
    * calibration splits (n_cal < (100−α%)/α%, e.g. < 19 at α = 5 %)
    * the raw k exceeds n_cal and the exact 1−α guarantee is
    * unattainable — the clamp takes the max calibration score (the
    * finite surrogate for the +∞-threshold convention) instead of
    * silently dropping the α's row, which is what the unclamped form
    * did (r10 ADVICE). Coverage is one pass over the test split
    * against the broadcast 3-row threshold frame. */
  def q275Conformal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nB = 4096
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("value"),
        expr("pmod(cast(conv(substring(md5(cast(event_id as string)), 1, 15), " +
          "16, 10) as bigint), 5) = 0").as("is_cal"))
      .transform(Pin.eager)
    val cal = ev.filter(col("is_cal")).select("event_id", "value")
    val stats = cal.agg(min("value").as("lo"), max("value").as("hi"),
      count(lit(1)).as("n_cal"))
    val ak = Seq(5, 10, 20).toDF("alpha_pct").crossJoin(broadcast(stats))
      .withColumn("k",
        least(expr("((n_cal + 1) * (100 - alpha_pct) + 99) div 100"), col("n_cal")))
    val bucketed = cal.crossJoin(broadcast(stats))
      .withColumn("__bucket", when(col("hi") === col("lo"), lit(0)).otherwise(
        least(floor((col("value") - col("lo")) / (col("hi") - col("lo")) * nB)
          .cast("int"), lit(nB - 1))))
      .select("event_id", "value", "__bucket")
    // bounded window (r16 audit): ≤ nB bucket rows through the
    // unpartitioned cumulative — the q127 histogram discipline
    val cum = bucketed.groupBy("__bucket").agg(count(lit(1)).as("bcount"))
      .withColumn("cum", sum("bcount").over(Window.orderBy("__bucket")))
      .withColumn("cum_before", col("cum") - col("bcount"))
    // exactly one bucket satisfies cum_before < k <= cum per alpha
    val tgt = ak.join(broadcast(cum),
      col("cum") >= col("k") && col("cum_before") < col("k"))
      .select(col("alpha_pct"), col("n_cal"), col("k"), col("__bucket"),
        col("cum_before"))
    val thr = bucketed.join(broadcast(tgt), Seq("__bucket"))
      .withColumn("r", row_number().over(
        Window.partitionBy("alpha_pct").orderBy(col("value"), col("event_id"))))
      .filter(col("r") === col("k") - col("cum_before"))
      .select(col("alpha_pct"), col("n_cal"), col("k"),
        col("value").as("threshold"))
    ev.filter(!col("is_cal")).crossJoin(broadcast(thr))
      .groupBy("alpha_pct", "n_cal", "k", "threshold")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("value") <= col("threshold"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(round(col("alpha_pct") / 100.0, 2).as("alpha"),
        col("n_cal"), col("k"), round(col("threshold"), 6).as("threshold"),
        col("n_test"), col("n_covered"),
        round(lit(100.0) * col("n_covered") / col("n_test"), 4)
          .as("coverage_pct"))
      .orderBy("alpha")
  }

  /** Join-skew diagnosis — the pre-flight a 100 TB join runs before
    * picking a salt factor: per-key row counts on the probe side's
    * join key, the global shape (n_keys, max, exact p99 of the
    * per-key-count distribution), and for the top-10 heaviest keys
    * the share, ratio-to-mean, and the salt factor ceil(cnt/mean)
    * (capped at 32) that would level them. The p99 is selected from
    * the (cnt → n_keys) histogram — a frame bounded by DISTINCT count
    * values, never by keys — with the integer rank rule
    * (99·n_keys + 99) div 100. */
  def q276SkewDiagnosis(s: SparkSession, d: String): DataFrame = {
    val perKey = Tables.lineitem(s, d)
      .groupBy("l_suppkey").agg(count(lit(1)).as("cnt"))
      .transform(Pin.eager)
    val g = perKey.agg(count(lit(1)).as("n_keys"), sum("cnt").as("total_rows"),
      max("cnt").as("max_cnt"))
    val cum = perKey.groupBy("cnt").agg(count(lit(1)).as("k"))
      .withColumn("cum", sum("k").over(Window.orderBy("cnt")))
    val p99 = cum.crossJoin(broadcast(g))
      .filter(col("cum") >= expr("(99 * n_keys + 99) div 100") &&
        col("cum") - col("k") < expr("(99 * n_keys + 99) div 100"))
      .select(col("cnt").as("p99_cnt"))
    perKey.crossJoin(broadcast(g)).crossJoin(broadcast(p99))
      .withColumn("share_pct",
        round(lit(100.0) * col("cnt") / col("total_rows"), 6))
      .withColumn("ratio_to_mean",
        round(col("cnt") * col("n_keys") / col("total_rows").cast("double"), 4))
      .withColumn("salt_parts", least(
        expr("(cnt * n_keys + total_rows - 1) div total_rows"), lit(32L))
        .cast("int"))
      .orderBy(col("cnt").desc, col("l_suppkey"))
      .limit(10)
      .select(col("l_suppkey").as("key"), col("cnt"), col("share_pct"),
        col("ratio_to_mean"), col("salt_parts"), col("n_keys"),
        col("max_cnt"), col("p99_cnt"))
  }

  /** Vocabulary coverage / OOV audit: fix the vocabulary to the
    * corpus's top-K tokens (ties → token asc, a total order), then
    * per source report token coverage, OOV mass, and distinct OOV
    * types — the audit run before committing to a tokenizer vocab
    * size (complements q237's learned-BPE view with the simpler
    * frequency-vocab view). K = 16 here because the synthetic corpus
    * holds 31 token types (a real run would use 50 K — the operator
    * is the same broadcast join either way). The token explosion is
    * scanned twice (frequency pass, coverage pass) rather than
    * checkpointed — it is row×tokens scale, and both consumers reduce
    * it map-side; the vocab itself is a broadcast K-row frame. */
  def q277VocabCoverage(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(tokens).as("tok"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(16)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, 1L).otherwise(0L))
          .as("in_vocab_tokens"),
        countDistinct(when(col("in_vocab").isNull, col("tok")))
          .as("oov_types"))
      .select(col("source"), col("n_tokens"),
        round(lit(100.0) * col("in_vocab_tokens") / col("n_tokens"), 4)
          .as("coverage_pct"),
        (col("n_tokens") - col("in_vocab_tokens")).as("oov_tokens"),
        col("oov_types"))
      .orderBy("source")
  }

  /** Kaplan–Meier survival estimate (Kaplan & Meier 1958) for the
    * signup→first-error lifetime: subjects are users with a signup
    * event; the event is their first error ON OR AFTER signup day;
    * users without one are right-censored at the corpus max day. One
    * row per distinct duration with the at-risk count, events,
    * censorings, and S(t) = Π_{u≤t}(1 − d_u/n_u).
    *
    * Scale/exactness shape: subjects reduce to one row per user (two
    * min-aggregates + one join), the KM table itself is an
    * aggregate-scale frame (≤ distinct durations), and the cumulative
    * product is an ORDERED left fold over the sorted ratio list
    * (collect_list over an ordered rows-frame window → aggregate()) —
    * the q100-oracle discipline: DuckDB folds the same list in the
    * same order, so the float product is bit-identical, with no
    * exp/log detour. Ratios themselves are exact-integer divisions. */
  def q278KaplanMeier(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("day").as("s_day"))
    val er = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("day").as("e_day"))
    val firstErr = su.join(er, Seq("user_id"))
      .filter(col("e_day") >= col("s_day"))
      .groupBy("user_id").agg(min("e_day").as("e_day"))
    val maxDay = ev.agg(max("day").as("max_day"))
    val subjects = su.join(firstErr, Seq("user_id"), "left")
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        when(col("e_day").isNotNull, datediff(col("e_day"), col("s_day")))
          .otherwise(datediff(col("max_day"), col("s_day"))).as("t_days"),
        col("e_day").isNotNull.as("observed"))
    val total = subjects.agg(count(lit(1)).as("n_total"))
    // bounded windows (r16 audit): the life table is |distinct t_days|
    // rows — whole-day gaps, capped by the observation span (a time-
    // domain constant), never subject count
    val km = subjects.groupBy("t_days")
      .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("observed"), 0L).otherwise(1L)).as("n_censored"))
      .crossJoin(broadcast(total))
      .withColumn("n_risk", col("n_total") - coalesce(
        sum(col("n_events") + col("n_censored")).over(
          Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("ratio",
        (col("n_risk") - col("n_events")).cast("double") /
          col("n_risk").cast("double"))
    km.withColumn("rs", collect_list("ratio").over(
        Window.orderBy("t_days")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t_days"), col("n_risk"), col("n_events"), col("n_censored"),
        round(expr("aggregate(rs, 1.0D, (a, x) -> a * x)"), 6).as("survival"))
      .orderBy("t_days")
  }

  /** CUPED variance reduction (Deng et al. 2013 — the pre-experiment
    * covariate adjustment every large A/B platform applies):
    * θ = cov(x, y)/var(x) over pre-period (x) and post-period (y)
    * per-user revenue, adjusted metric y′ = y − θ·(x − x̄), variance
    * reduction reported per variant (user_id mod 2).
    *
    * Exactness: x and y are integer cents, and θ/x̄ derive from ONE
    * aggregate of exact BIGINT power sums (n, Σx, Σy, Σxy, Σx²) — the
    * float arithmetic on top of those five scalars is the same IEEE
    * expression in both engines, so θ is bit-identical (no dependence
    * on either engine's covariance accumulation order). Per-variant
    * sums of the adjusted doubles are rounded at output per the
    * aggregated-double contract. */
  def q279Cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    val bounds = ev.agg(min("day").as("d0"))
    val perUser = ev.crossJoin(broadcast(bounds))
      .withColumn("pre", datediff(col("day"), col("d0")) < 15)
      .groupBy("user_id")
      .agg(sum(when(col("pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("pre"), 0L).otherwise(col("cents"))).as("y"))
      .withColumn("variant", pmod(col("user_id"), lit(2)).cast("int"))
      .transform(Pin.eager)
    val g = perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    // the n·Σxy / Σx·Σy cross terms overflow BIGINT past ~sf10 (Spark
    // would wrap silently); each exact integer sum casts to double
    // FIRST, and the identical IEEE expression runs in both engines
    val withTheta = perUser.crossJoin(broadcast(g))
      .withColumn("theta",
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
      .withColumn("xbar", col("sx").cast("double") / col("n").cast("double"))
      .withColumn("y_adj",
        col("y").cast("double") - col("theta") *
          (col("x").cast("double") - col("xbar")))
    withTheta.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("y").cast("double")) / 100.0, 4).as("mean_post"),
        round(avg(col("y_adj")) / 100.0, 4).as("mean_adj"),
        round(var_pop(col("y").cast("double")) / 10000.0, 2).as("var_post"),
        round(var_pop(col("y_adj")) / 10000.0, 2).as("var_adj"),
        round(lit(100.0) * (lit(1.0) -
          var_pop(col("y_adj")) / var_pop(col("y").cast("double"))), 4)
          .as("var_reduction_pct"),
        round(max("theta"), 6).as("theta"))
      .orderBy("variant")
  }

  val specs: Seq[QuerySpec] = Seq(
    // q274's Hamilton restatement over the multimodal manifest cells;
    // byte_len = octet_length(encode(text)) is the q40 stub identity
    QuerySpec("q298_modality_mix", q298ModalityMix,
      """WITH cells AS (
        |  SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |           WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |    lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |  FROM documents GROUP BY 1, 2),
        |w AS (SELECT *, sqrt(CAST(total_bytes AS DOUBLE)) AS w FROM cells),
        |wu AS (
        |  SELECT modality, lang, n_docs, total_bytes,
        |    CAST(floor(w / max(w) OVER () * 1e9) AS BIGINT) AS w_units
        |  FROM w),
        |al AS (
        |  SELECT *, CAST(sum(w_units) OVER () AS BIGINT) AS tot_units,
        |    (10000000 * w_units) // CAST(sum(w_units) OVER () AS BIGINT) AS base,
        |    (10000000 * w_units) % CAST(sum(w_units) OVER () AS BIGINT) AS rem_num
        |  FROM wu),
        |r AS (
        |  SELECT *,
        |    10000000 - CAST(sum(base) OVER () AS BIGINT) AS shortfall,
        |    row_number() OVER (ORDER BY rem_num DESC, modality, lang) AS rr
        |  FROM al)
        |SELECT modality, lang, n_docs, total_bytes,
        |  round(100.0 * w_units / tot_units, 6) AS target_pct,
        |  CAST(base + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_bytes,
        |  round(100.0 * (base + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END)
        |    / 10000000, 6) AS alloc_pct
        |FROM r ORDER BY modality, lang""".stripMargin),
    QuerySpec("q274_temp_mixture", q274TempMixture,
      """WITH per_src AS (
        |  SELECT source,
        |    CAST(sum(len(string_split_regex(lower(trim(text)), '\s+'))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY 1),
        |temps(temp) AS (VALUES (1), (2), (4)),
        |w AS (
        |  SELECT temp, source, n_tokens,
        |    CASE temp WHEN 1 THEN CAST(n_tokens AS DOUBLE)
        |      WHEN 2 THEN sqrt(CAST(n_tokens AS DOUBLE))
        |      ELSE sqrt(sqrt(CAST(n_tokens AS DOUBLE))) END AS w
        |  FROM per_src CROSS JOIN temps),
        |wu AS (
        |  SELECT temp, source, n_tokens,
        |    CAST(floor(w / max(w) OVER (PARTITION BY temp) * 1e9) AS BIGINT)
        |      AS w_units
        |  FROM w),
        |al AS (
        |  SELECT temp, source, n_tokens, w_units,
        |    CAST(sum(w_units) OVER (PARTITION BY temp) AS BIGINT) AS tot_units,
        |    (1000000 * w_units) // CAST(sum(w_units) OVER (PARTITION BY temp)
        |      AS BIGINT) AS base,
        |    (1000000 * w_units) % CAST(sum(w_units) OVER (PARTITION BY temp)
        |      AS BIGINT) AS rem_num
        |  FROM wu),
        |r AS (
        |  SELECT *,
        |    1000000 - CAST(sum(base) OVER (PARTITION BY temp) AS BIGINT)
        |      AS shortfall,
        |    row_number() OVER (PARTITION BY temp ORDER BY rem_num DESC, source)
        |      AS rr
        |  FROM al)
        |SELECT temp, source, n_tokens,
        |  round(100.0 * w_units / tot_units, 6) AS target_pct,
        |  CAST(base + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_tokens,
        |  round(100.0 * (base + CASE WHEN rr <= shortfall THEN 1 ELSE 0 END)
        |    / 1000000, 4) AS alloc_pct
        |FROM r ORDER BY temp, source""".stripMargin),
    QuerySpec("q275_conformal", q275Conformal,
      """WITH ev AS (
        |  SELECT event_id, value,
        |    ('0x' || substr(md5(event_id || ''), 1, 15))::BIGINT % 5 = 0 AS is_cal
        |  FROM events),
        |cal AS (SELECT value FROM ev WHERE is_cal),
        |n AS (SELECT count(*) AS n_cal FROM cal),
        |a(alpha_pct) AS (VALUES (5), (10), (20)),
        |ak AS (
        |  SELECT alpha_pct, n_cal,
        |    least(((n_cal + 1) * (100 - alpha_pct) + 99) // 100, n_cal) AS k
        |  FROM a CROSS JOIN n),
        |ranked AS (
        |  SELECT value, row_number() OVER (ORDER BY value) AS r FROM cal),
        |thr AS (
        |  SELECT ak.alpha_pct, ak.n_cal, ak.k, ranked.value AS threshold
        |  FROM ak JOIN ranked ON ranked.r = ak.k),
        |test AS (SELECT value FROM ev WHERE NOT is_cal)
        |SELECT round(alpha_pct / 100.0, 2) AS alpha,
        |  CAST(n_cal AS BIGINT) AS n_cal, CAST(k AS BIGINT) AS k,
        |  round(threshold, 6) AS threshold,
        |  count(*) AS n_test,
        |  CAST(sum(CASE WHEN test.value <= thr.threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_covered,
        |  round(100.0 * sum(CASE WHEN test.value <= thr.threshold THEN 1
        |    ELSE 0 END) / count(*), 4) AS coverage_pct
        |FROM test CROSS JOIN thr
        |GROUP BY 1, 2, 3, 4 ORDER BY alpha""".stripMargin),
    QuerySpec("q276_skew_diagnosis", q276SkewDiagnosis,
      """WITH per_key AS (
        |  SELECT l_suppkey, count(*) AS cnt FROM lineitem GROUP BY 1),
        |g AS (
        |  SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows,
        |    max(cnt) AS max_cnt
        |  FROM per_key),
        |ch AS (
        |  SELECT cnt, count(*) AS k,
        |    CAST(sum(count(*)) OVER (ORDER BY cnt) AS BIGINT) AS cum
        |  FROM per_key GROUP BY 1),
        |p99 AS (
        |  SELECT cnt AS p99_cnt FROM ch CROSS JOIN g
        |  WHERE cum >= (99 * n_keys + 99) // 100
        |    AND cum - k < (99 * n_keys + 99) // 100)
        |SELECT l_suppkey AS key, cnt,
        |  round(100.0 * cnt / total_rows, 6) AS share_pct,
        |  round(cnt * n_keys / CAST(total_rows AS DOUBLE), 4) AS ratio_to_mean,
        |  CAST(least((cnt * n_keys + total_rows - 1) // total_rows, 32)
        |    AS INT) AS salt_parts,
        |  n_keys, max_cnt, p99_cnt
        |FROM per_key CROSS JOIN g CROSS JOIN p99
        |ORDER BY cnt DESC, l_suppkey
        |LIMIT 10""".stripMargin),
    QuerySpec("q277_vocab_coverage", q277VocabCoverage,
      """WITH toks AS (
        |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS tok
        |  FROM documents),
        |vocab AS (
        |  SELECT tok FROM (
        |    SELECT tok, count(*) AS tf,
        |      row_number() OVER (ORDER BY count(*) DESC, tok) AS r
        |    FROM toks GROUP BY 1) WHERE r <= 16)
        |SELECT source,
        |  count(*) AS n_tokens,
        |  round(100.0 * sum(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
        |    / count(*), 4) AS coverage_pct,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST(count(DISTINCT CASE WHEN v.tok IS NULL THEN t.tok END)
        |    AS BIGINT) AS oov_types
        |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        |GROUP BY 1 ORDER BY source""".stripMargin),
    QuerySpec("q278_kaplan_meier", q278KaplanMeier,
      """WITH ev AS (
        |  SELECT user_id, event_type, CAST(ts AS DATE) AS day FROM events),
        |su AS (
        |  SELECT user_id, min(day) AS s_day FROM ev
        |  WHERE event_type = 'signup' GROUP BY 1),
        |fe AS (
        |  SELECT e.user_id, min(e.day) AS e_day
        |  FROM ev e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'error' AND e.day >= su.s_day GROUP BY 1),
        |mx AS (SELECT max(day) AS max_day FROM ev),
        |subj AS (
        |  SELECT su.user_id,
        |    CAST(CASE WHEN fe.e_day IS NOT NULL
        |      THEN date_diff('day', su.s_day, fe.e_day)
        |      ELSE date_diff('day', su.s_day, mx.max_day) END AS INT) AS t_days,
        |    fe.e_day IS NOT NULL AS observed
        |  FROM su LEFT JOIN fe ON su.user_id = fe.user_id CROSS JOIN mx),
        |tot AS (SELECT count(*) AS n_total FROM subj),
        |km AS (
        |  SELECT t_days,
        |    CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |    CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM subj GROUP BY 1),
        |r AS (
        |  SELECT t_days, n_events, n_censored,
        |    CAST(n_total - coalesce(sum(n_events + n_censored) OVER
        |      (ORDER BY t_days ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS n_risk
        |  FROM km CROSS JOIN tot),
        |rr AS (
        |  SELECT *, CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |    AS ratio
        |  FROM r),
        |fold AS (
        |  SELECT t_days, n_risk, n_events, n_censored,
        |    list(ratio) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
        |  FROM rr)
        |SELECT t_days, n_risk, n_events, n_censored,
        |  round(list_reduce(list_prepend(CAST(1.0 AS DOUBLE), rs),
        |    (a, x) -> a * x), 6) AS survival
        |FROM fold ORDER BY t_days""".stripMargin),
    QuerySpec("q279_cuped", q279Cuped,
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |b AS (SELECT min(day) AS d0 FROM ev),
        |pu AS (
        |  SELECT user_id,
        |    CAST(sum(CASE WHEN date_diff('day', d0, day) < 15 THEN cents
        |      ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN date_diff('day', d0, day) < 15 THEN 0
        |      ELSE cents END) AS BIGINT) AS y,
        |    CAST(user_id % 2 AS INT) AS variant
        |  FROM ev CROSS JOIN b GROUP BY user_id),
        |g AS (
        |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM pu),
        |w AS (
        |  SELECT pu.*,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |  FROM pu CROSS JOIN g),
        |a AS (
        |  SELECT variant, y,
        |    CAST(y AS DOUBLE) - theta * (CAST(x AS DOUBLE) - xbar) AS y_adj,
        |    theta
        |  FROM w)
        |SELECT variant, count(*) AS n_users,
        |  round(avg(CAST(y AS DOUBLE)) / 100.0, 4) AS mean_post,
        |  round(avg(y_adj) / 100.0, 4) AS mean_adj,
        |  round(var_pop(CAST(y AS DOUBLE)) / 10000.0, 2) AS var_post,
        |  round(var_pop(y_adj) / 10000.0, 2) AS var_adj,
        |  round(100.0 * (1.0 - var_pop(y_adj) / var_pop(CAST(y AS DOUBLE))), 4)
        |    AS var_reduction_pct,
        |  round(max(theta), 6) AS theta
        |FROM a GROUP BY 1 ORDER BY variant""".stripMargin)
  )
}
