package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.{AsOfJoin, Dedup}

/** Operators beyond the reference's surface that a Spark engine gets
  * (or should expose) as first-class capabilities: rollup/grouping
  * sets, as-of join, sessionization, distinct-count aggregates,
  * embedding-cosine dedup. Each oracle follows the same alias/round
  * discipline as CoreQueries. */
object ExtendedQueries {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** Hierarchical rollup totals (SURVEY §2.4 note: cube/rollup are free
    * in Spark and exposed by the engine). NULL roll-up labels coalesced
    * to 'ALL' so the label is unambiguous on both engines. */
  def q23Rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))
      .orderBy("returnflag", "linestatus")

  /** Banded range join (interval join): views of the same user within
    * ±15 minutes of each purchase, counted per purchase. The band
    * decomposition keeps it an equi-shuffle (see
    * [[graft.operators.RangeJoin]]) instead of a per-key nested loop. */
  def q53RangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"))
    val nearby = graft.operators.RangeJoin
      .within(purchases, views, Seq("user_id"), "ts", toleranceSec = 900)
      .groupBy("event_id")
      .agg(count(lit(1)).as("n_views_nearby"))
    purchases.join(nearby, Seq("event_id"), "left")
      .select(col("user_id"), col("event_id"),
        coalesce(col("n_views_nearby"), lit(0L)).as("n_views_nearby"))
      .orderBy("user_id", "event_id")
  }

  /** Robust per-group outlier detection: z-scores against group
    * mean/stddev via a window, outliers = |z| > 2.5. */
  def q54ZScore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type")
    ev(s, d)
      .withColumn("mu", avg("value").over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("z", (col("value") - col("mu")) / col("sd"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(first("mu"), 4).as("mean_value"),
        round(first("sd"), 4).as("sd_value"),
        sum((abs(col("z")) > 2.5).cast("long")).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Pairwise correlation matrix of the lineitem measures (single
    * pass, one row). */
  def q55CorrMatrix(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      round(corr("l_quantity", "l_extendedprice"), 6).as("qty_price"),
      round(corr("l_quantity", "l_discount"), 6).as("qty_discount"),
      round(corr("l_quantity", "l_tax"), 6).as("qty_tax"),
      round(corr("l_extendedprice", "l_discount"), 6).as("price_discount"),
      round(corr("l_extendedprice", "l_tax"), 6).as("price_tax"),
      round(corr("l_discount", "l_tax"), 6).as("discount_tax"))

  /** Full cube totals over two dimensions (exposed alongside rollup —
    * SURVEY §2.4: Spark provides these free; the engine surfaces them). */
  def q47Cube(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .cube(col("event_type"), date_format(col("ts"), "EEEE").as("day_name"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(
        coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("day_name"), lit("ALL")).as("day_name"),
        col("n"), col("total_value"))
      .orderBy("event_type", "day_name")

  /** Frame-spec window: 7-day trailing moving average of daily totals
    * per event type (rowsBetween over the dense daily series — the
    * rolling statistic the reference's dashboard never had). */
  def q48RollingAvg(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    daily
      .select(
        col("event_type"), col("day"),
        round(col("v"), 2).as("daily_value"),
        round(avg("v").over(w), 4).as("ma7"),
        count(lit(1)).over(w).as("window_n"))
      .orderBy("event_type", "day")
  }

  /** Backward as-of join: each purchase matched to the user's latest
    * view at-or-before it (the generalized J3). The view side is
    * deduplicated per (user, instant) so as-of semantics are
    * deterministic; timestamps compare at microsecond precision on
    * both engines. */
  def q24AsOf(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("view_event_id"))
    AsOfJoin.backward(purchases, views, Seq("user_id"), "ts",
      rightCols = Seq("view_event_id"))
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("asof_view_event_id").as("view_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Forward as-of join: each purchase matched to the user's EARLIEST
    * view at-or-after it — the "next signal after the event" direction
    * (q24's mirror; same union-tag-window machinery traversing time
    * descending). */
  def q68AsOfForward(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max("event_id").as("view_event_id"))
    AsOfJoin.forward(purchases, views, Seq("user_id"), "ts",
      rightCols = Seq("view_event_id"))
      .select(
        col("user_id"), col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("asof_view_event_id").as("view_event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Gap-based sessionization: a >30-minute silence starts a new
    * session; one cumulative-sum window pass, then per-session
    * aggregates. */
  def q25Sessionize(s: SparkSession, d: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev(s, d)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag("ts", 1).over(order)))
      .withColumn("new_session", when(col("gap_us") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(cum))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max("ts"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        round(sum("value"), 2).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Exact distinct-count aggregates (the approximate HLL variants are
    * library-level — `approx_count_distinct` — and tested against these
    * exact values in ScalaTest). */
  def q26Distinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      countDistinct("l_orderkey").as("n_orders"),
      countDistinct("l_partkey").as("n_parts"),
      countDistinct("l_suppkey").as("n_suppliers"),
      countDistinct("l_returnflag", "l_linestatus").as("n_flag_status"))

  /** A10 — exact percentiles (median, p90) per group: the oracle-parity
    * path uses exact `percentile` (linear interpolation, matching
    * DuckDB's quantile_cont); `Analytics`-level callers can flip to
    * `percentile_approx` at scale. */
  def q27Percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"))
      .orderBy("l_returnflag")

  /** A4/X7 — per-day quality time series over indicator columns
    * (nulls injected deterministically so every scale factor exercises
    * the indicators; reference dashboards/app.py:453-468). */
  def q28QualityTs(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("v", when(col("event_id") % 11 === 0, lit(null)).otherwise(col("value")))
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        sum(col("v").isNull.cast("long")).as("missing_total"),
        sum((col("v") > 300).cast("long")).as("outliers"),
        sum((col("v") < 0).cast("long")).as("negatives"),
        count(lit(1)).as("n"))
      .orderBy("day")

  /** Gap sessionization via the built-in `session_window` — the
    * streaming-ready formulation. Boundary semantics: session_window
    * MERGES sessions separated by EXACTLY the gap (adjacent windows
    * coalesce) and splits only on a strictly greater interval —
    * boundary-proven against the operator itself in `BehaviorOpsSpec`
    * (this comment originally claimed the opposite; real µs data never
    * lands on the boundary, so both oracles stayed green). Same
    * semantics as q25's cumsum and the batch [[graft.operators
    * .Sessionize]]. */
  def q29SessionWindow(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  /** JSON-path extraction over the `props` metadata column — the
    * metadata-wrangling primitive every training-data pipeline needs
    * (schema-on-read for sidecar attributes). */
  def q42JsonExtract(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("k").isNull.cast("long")).as("null_k"),
        round(avg("k"), 4).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** U-ext — INTERSECT (set semantics; the reference has union/except
    * only, the engine completes the set-op family): customers that
    * ordered in both 1995 and 1996. */
  def q45Intersect(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    def custsIn(yr: Int) =
      o.filter(year(col("o_orderdate")) === yr).select(col("o_custkey"))
    custsIn(1995).intersect(custsIn(1996)).orderBy("o_custkey")
  }

  /** J4 — explicit left-semi join (EXISTS): customers with at least one
    * high-value order, keeping only left columns. */
  def q46SemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 100000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy("c_custkey")

  /** Embedding-cosine near-dup pairs via LSH candidates + native cosine
    * verify, in the md5 SRP-sign bucket mode — FULL hash oracle (the
    * q112 idiom applied to dedup): DuckDB recomputes every ±1 sign,
    * every 12-bit table bucket (projection signs on the 6-dp-rounded
    * value), the 200-member bucket cap, and the round-6 cosine
    * threshold. The xxhash64 hyperplane mode stays available for
    * production.
    *
    * The planted guarantee stays: each vec_id < 8 gets a scaled copy
    * at id+1000000 — scaling preserves direction exactly, so cosine =
    * 1.0 and the sign buckets match in every table; the 8 planted
    * pairs are recovered at every scale factor. */
  def q41EmbeddingDedup(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d)
    val planted = base.filter(col("vec_id") < 8)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> x * cast(2.0 as float))").as("embedding"),
        col("label"))
    Dedup.embeddingNearDups(base.select("vec_id", "embedding", "label").unionByName(planted),
        threshold = 0.9, md5Mode = true)
      .select(col("doc_a"), col("doc_b"), round(col("cosine"), 4).as("cosine"),
        (col("doc_b") >= 1000000L).as("planted"))
      .orderBy("doc_a", "doc_b")
  }

  /** Explicit GROUPING SETS with grouping_id disambiguation — the
    * general form subsuming rollup/cube: the exact aggregate lattice is
    * chosen (here (flag,status), (flag), ()) and `grouping_id` tells
    * which stratum a row belongs to, so an all-NULL group key is not
    * ambiguous with the total row. One pass — Spark expands the sets
    * into a single Expand+Aggregate, not one job per set. */
  def q63GroupingSets(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("sum_qty"), col("n"))
      .orderBy("gid", "returnflag", "linestatus")

  /** Ranking-window suite beyond rank/lag: ntile deciles, percent_rank,
    * cume_dist over per-type event values — the distribution-position
    * family, all computed in ONE window pass (same partition+order). */
  def q64RankSuite(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    ev(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("event_id"), round(col("value"), 2).as("value"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("event_type", "value", "event_id")
      .limit(2000)
  }

  /** Unpivot (wide→long melt): the inverse of the q11 pivot, turning
    * per-flag quantity/price columns into (metric, value) rows —
    * Spark's `unpivot` is a zero-shuffle Expand, not a union of scans. */
  def q65Unpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("total_qty"),
        round(sum("l_extendedprice"), 2).as("total_price"),
        round(avg("l_discount"), 4).as("avg_disc"))
    wide.unpivot(
      Array(col("l_returnflag")),
      Array(col("total_qty"), col("total_price"), col("avg_disc")),
      "metric", "value")
      .select(col("l_returnflag").as("returnflag"), col("metric"), col("value"))
      .orderBy("returnflag", "metric")
  }

  /** Per-group OLS — one regression per segment in a single aggregate
    * pass (the per-city/per-segment model fit; q14 is the global fit).
    * `regr_*` are algebraic aggregates: map-side partials, one narrow
    * shuffle, any group count. */
  def q73GroupedRegression(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"))
      .orderBy("l_returnflag")

  /** Robust outlier counts via median absolute deviation: |x − med| >
    * 3·1.4826·MAD per event_type — the robust alternative to q54's
    * z-score (immune to the outliers inflating the spread estimate).
    * Exact medians on both engines (percentile ≡ quantile_cont, the
    * q27-proven parity); two passes (stats, then flag) — at 100 TB the
    * stats pass is a tiny aggregate broadcast back. */
  def q74MadOutliers(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val stats = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val withMad = e.join(broadcast(stats), Seq("event_type"))
      .groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
        first("med").as("med"))
    e.join(broadcast(withMad), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(first("med"), 4).as("median"),
        round(first("mad"), 4).as("mad"),
        sum(when(abs(col("value") - col("med")) > lit(3 * 1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Conversion funnel: per user, did a purchase follow a view within
    * 15 minutes — ordered-behavior analytics aggregated to one row.
    * The existence test is a per-user min over the q53-style banded
    * interval join, so it scales exactly like the range join (equi-
    * shuffle on user, no per-key scan). */
  def q75Funnel(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"))
    val converted = views.join(purchases, Seq("user_id"))
      .filter(col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 15 MINUTES"))
      .select("user_id").distinct()
    // ONE plan, one action: viewer/purchaser counts come from a single
    // conditional-distinct aggregate over one events scan (not one scan
    // per count), the conversion count from the interval-join branch;
    // both sides are 1-row aggregates, so the final join is a
    // broadcast-1-row cross — total 3 filtered scans in 1 job vs the
    // previous 3 driver actions over 4 scans.
    val stats = e.agg(
      countDistinct(when(col("event_type") === "view", col("user_id"))).as("n_viewers"),
      countDistinct(when(col("event_type") === "purchase", col("user_id"))).as("n_purchasers"))
    val conv = converted.agg(count(lit(1)).as("n_converted"))
    stats.crossJoin(broadcast(conv))
      .select(col("n_viewers"), col("n_purchasers"), col("n_converted"),
        round(col("n_converted").cast("double") / col("n_viewers"), 4).as("conv_rate"))
  }

  /** Cohort retention: users grouped by first-activity day (cohort),
    * counted distinct per day-offset — the activity-retention matrix.
    * Two narrow aggregates (first-day per user, then cohort × offset
    * distinct counts); at 100 TB the distinct is the cost and is the
    * place approx_count_distinct swaps in. Offsets 0-7 kept. */
  def q76Cohort(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
    val firstDay = e.groupBy("user_id").agg(min("day").as("cohort"))
    e.join(firstDay, Seq("user_id"))
      .withColumn("offset", datediff(col("day"), col("cohort")))
      .filter(col("offset") <= 7)
      .groupBy("cohort", "offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "offset")
  }

  /** F9 — presentation-layer numeric formatting as engine strings (the
    * reference's tooltip labels `'{:.1f}°F'`, `'{:,.0f} GWh'`,
    * `'{:.1f}%'`, dashboards/app.py:618-620), composed on the q-geo
    * chain: latest day per group + prev-day pct change + running total.
    * Every number is `round()`ed to the displayed precision BEFORE
    * formatting, so both engines format the SAME double and the printf
    * rounding-mode difference (Java HALF_UP vs C half-even) never
    * engages. Formatting is codegen'd `format_string`/`format_number` —
    * row-local, free at any scale. */
  def q106TooltipFormat(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum("value").as("v"))
    val wOrd = Window.partitionBy("event_type").orderBy("day")
    val wAll = Window.partitionBy("event_type")
    daily
      .withColumn("prev", lag("v", 1).over(wOrd))
      .withColumn("total", sum("v").over(wAll))
      .withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy(col("day").desc)))
      .filter(col("rn") === 1)
      .select(
        col("event_type"),
        col("day"),
        format_string("%.1f°F", round(col("v"), 1)).as("value_label"),
        concat(format_number(round(col("total"), 0), 0), lit(" GWh")).as("total_label"),
        format_string("%.1f%%",
          round(when(col("prev") > 0, (col("v") - col("prev")) / col("prev") * 100)
            .otherwise(0.0), 1)).as("pct_label"))
      .orderBy("event_type")
  }

  val specs: Seq[QuerySpec] = Seq(
    // full md5-SRP restatement: every ±1 sign, every table bucket
    // (signs on the 6-dp projection), the bucket cap, and the round-6
    // cosine cut — the q112 oracle machinery applied to dedup
    QuerySpec("q41_embedding_dedup", q41EmbeddingDedup,
      """WITH pl AS (
        |  SELECT vec_id + 1000000 AS vec_id,
        |    list_transform(embedding, x -> CAST(x * 2 AS FLOAT)) AS embedding
        |  FROM embeddings WHERE vec_id < 8),
        |allv AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id, embedding FROM pl),
        |codes AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
        |    list_transform(range(0, 4), t ->
        |      list_sum(list_transform(range(0, 12), b ->
        |        CASE WHEN round(list_sum(list_transform(range(1, 65), i ->
        |            CAST(embedding[i] AS DOUBLE) *
        |            CASE WHEN ('0x' || substr(md5('srp:' || i || ':'
        |                || (t * 12 + b + 1)), 1, 6))::BIGINT % 2 = 0
        |              THEN 1.0 ELSE -1.0 END)), 6) >= 0
        |          THEN (CAST(1 AS BIGINT) << b)
        |          ELSE CAST(0 AS BIGINT) END))) AS bks
        |  FROM allv),
        |ch AS (
        |  SELECT vec_id, emb, tt.t, bks[tt.t + 1] AS bucket
        |  FROM codes CROSS JOIN (SELECT unnest(range(0, 4)) AS t) tt),
        |okb AS (
        |  SELECT t, bucket FROM ch GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 200),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS doc_a, y.vec_id AS doc_b,
        |    x.emb AS ea, y.emb AS eb
        |  FROM ch x
        |  JOIN ch y ON x.t = y.t AND x.bucket = y.bucket
        |    AND x.vec_id < y.vec_id
        |  JOIN okb o ON o.t = x.t AND o.bucket = x.bucket),
        |p AS (
        |  SELECT doc_a, doc_b, list_cosine_similarity(ea, eb) AS c
        |  FROM cand
        |  WHERE round(list_cosine_similarity(ea, eb), 6) >= 0.9)
        |SELECT doc_a, doc_b, round(c, 4) AS cosine,
        |  doc_b >= 1000000 AS planted
        |FROM p ORDER BY 1, 2""".stripMargin),
    QuerySpec("q106_tooltip_format", q106TooltipFormat,
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1,2),
        |x AS (
        | SELECT event_type, day, v,
        |   lag(v,1) OVER (PARTITION BY event_type ORDER BY day) AS prev,
        |   sum(v) OVER (PARTITION BY event_type) AS total,
        |   row_number() OVER (PARTITION BY event_type ORDER BY day DESC) AS rn
        | FROM daily)
        |SELECT event_type, day,
        | printf('%.1f°F', round(v, 1)) AS value_label,
        | format('{:,} GWh', CAST(round(total, 0) AS BIGINT)) AS total_label,
        | printf('%.1f%%', round(CASE WHEN prev > 0 THEN (v - prev)/prev*100 ELSE 0 END, 1)) AS pct_label
        |FROM x WHERE rn = 1 ORDER BY event_type""".stripMargin),
    QuerySpec("q75_funnel", q75Funnel,
      """WITH v AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS v_ts
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT DISTINCT v.user_id
        |  FROM v JOIN p ON v.user_id = p.user_id
        |  WHERE p.p_ts >= v.v_ts AND p.p_ts <= v.v_ts + INTERVAL 15 MINUTES)
        |SELECT
        |  (SELECT count(DISTINCT user_id) FROM v) AS n_viewers,
        |  (SELECT count(DISTINCT user_id) FROM p) AS n_purchasers,
        |  (SELECT count(*) FROM conv) AS n_converted,
        |  round((SELECT count(*) FROM conv) * 1.0
        |    / (SELECT count(DISTINCT user_id) FROM v), 4) AS conv_rate""".stripMargin),
    QuerySpec("q76_cohort", q76Cohort,
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1)
        |SELECT f.cohort, date_diff('day', f.cohort, e.day) AS "offset",
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |WHERE date_diff('day', f.cohort, e.day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q73_grouped_regression", q73GroupedRegression,
      """SELECT l_returnflag, count(*) AS n,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q74_mad_outliers", q74MadOutliers,
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type, quantile_cont(abs(e.value - med.med), 0.5) AS mad,
        |    any_value(med.med) AS med
        |  FROM events e JOIN med ON e.event_type = med.event_type
        |  GROUP BY 1)
        |SELECT e.event_type, count(*) AS n,
        |  round(any_value(mad.med), 4) AS median,
        |  round(any_value(mad.mad), 4) AS mad,
        |  CAST(sum(CASE WHEN abs(e.value - mad.med) > 3 * 1.4826 * mad.mad
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN mad ON e.event_type = mad.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q63_grouping_sets", q63GroupingSets,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, returnflag, linestatus""".stripMargin),
    QuerySpec("q64_rank_suite", q64RankSuite,
      """SELECT event_type, event_id, round(value, 2) AS value,
        |  ntile(10) OVER w AS decile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cume
        |FROM events WHERE event_type IN ('purchase', 'click')
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, value, event_id
        |LIMIT 2000""".stripMargin),
    QuerySpec("q65_unpivot", q65Unpivot,
      """WITH wide AS (
        |  SELECT l_returnflag, round(sum(l_quantity), 2) AS total_qty,
        |    round(sum(l_extendedprice), 2) AS total_price,
        |    round(avg(l_discount), 4) AS avg_disc
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag AS returnflag, metric, value
        |FROM wide UNPIVOT (value FOR metric IN (total_qty, total_price, avg_disc))
        |ORDER BY returnflag, metric""".stripMargin),
    QuerySpec("q23_rollup", q23Rollup,
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | round(sum(l_quantity),2) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1,2""".stripMargin),
    QuerySpec("q24_asof", q24AsOf,
      """WITH p AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, max(event_id) AS view_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id,
        |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  v.view_event_id
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.user_id, p.event_id""".stripMargin),
    QuerySpec("q68_asof_forward", q68AsOfForward,
      """WITH p AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, max(event_id) AS view_event_id
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.user_id, p.event_id,
        |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS ts_s,
        |  v.view_event_id
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
        |ORDER BY p.user_id, p.event_id""".stripMargin),
    QuerySpec("q25_sessionize", q25Sessionize,
      """WITH g AS (
        |  SELECT user_id, event_id, value, date_trunc('microseconds', ts) AS ts,
        |    CASE WHEN date_trunc('microseconds', ts)
        |           - lag(date_trunc('microseconds', ts)) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
        |           > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(date_trunc('second', max(ts)), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  round(sum(value),2) AS total_value
        |FROM s GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QuerySpec("q27_percentiles", q27Percentiles,
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        | round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        | round(min(l_extendedprice), 2) AS min_price,
        | round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q28_quality_ts", q28QualityTs,
      """WITH t AS (SELECT CAST(ts AS DATE) AS day,
        |  CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT day,
        | count(*) FILTER (WHERE v IS NULL) AS missing_total,
        | count(*) FILTER (WHERE v > 300) AS outliers,
        | count(*) FILTER (WHERE v < 0) AS negatives,
        | count(*) AS n
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q29_session_window", q29SessionWindow,
      """WITH g AS (
        |  SELECT user_id, event_id, value, date_trunc('microseconds', ts) AS ts,
        |    CASE WHEN date_trunc('microseconds', ts)
        |           - lag(date_trunc('microseconds', ts)) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
        |           > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id,
        |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY 1,2""".stripMargin),
    QuerySpec("q42_json_extract", q42JsonExtract,
      """SELECT event_type, count(*) AS n,
        | count(*) FILTER (WHERE json_extract(props, '$.k') IS NULL) AS null_k,
        | round(avg(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
        | max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q53_range_join", q53RangeJoin,
      """WITH p AS (
        |  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.event_id, count(v.ts) AS n_views_nearby
        |FROM p LEFT JOIN v ON p.user_id = v.user_id
        |  AND abs(epoch_us(p.ts) - epoch_us(v.ts)) <= 900000000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q54_zscore", q54ZScore,
      """WITH g AS (
        |  SELECT event_type, value,
        |    avg(value) OVER w AS mu, stddev_samp(value) OVER w AS sd
        |  FROM events WINDOW w AS (PARTITION BY event_type))
        |SELECT event_type, count(*) AS n,
        | round(any_value(mu), 4) AS mean_value,
        | round(any_value(sd), 4) AS sd_value,
        | count(*) FILTER (WHERE abs((value - mu) / sd) > 2.5) AS n_outliers
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q55_corr_matrix", q55CorrMatrix,
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS qty_price,
        | round(corr(l_quantity, l_discount), 6) AS qty_discount,
        | round(corr(l_quantity, l_tax), 6) AS qty_tax,
        | round(corr(l_extendedprice, l_discount), 6) AS price_discount,
        | round(corr(l_extendedprice, l_tax), 6) AS price_tax,
        | round(corr(l_discount, l_tax), 6) AS discount_tax
        |FROM lineitem""".stripMargin),
    QuerySpec("q47_cube", q47Cube,
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        | coalesce(dayname(ts), 'ALL') AS day_name,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY CUBE (event_type, dayname(ts))
        |ORDER BY 1,2""".stripMargin),
    QuerySpec("q48_rolling_avg", q48RollingAvg,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        |  FROM events GROUP BY 1,2)
        |SELECT event_type, day, round(v,2) AS daily_value,
        | round(avg(v) OVER w, 4) AS ma7,
        | count(*) OVER w AS window_n
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin),
    QuerySpec("q45_intersect", q45Intersect,
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin),
    QuerySpec("q46_semi_join", q46SemiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin),
    QuerySpec("q26_distinct", q26Distinct,
      """SELECT count(DISTINCT l_orderkey) AS n_orders,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_suppliers,
        | count(DISTINCT (l_returnflag, l_linestatus)) AS n_flag_status
        |FROM lineitem""".stripMargin)
  )
}
