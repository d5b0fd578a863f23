package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Core relational operator queries, one per SURVEY.md §2 operator family,
  * expressed over the driver's TPC-H-ish test tables with DuckDB oracle SQL.
  *
  * Parity conventions (Spark side and oracle side must agree):
  *   - every aggregate / computed column is explicitly aliased identically;
  *   - double-valued aggregates are `round`-ed (sum→2, avg/ratio→4,
  *     corr-like→6) so floating-point summation order cannot flip the hash;
  *   - timestamps are surfaced as DATE or second-truncated strings (the
  *     `events.ts` column is nanosecond-precision in the files; Spark reads
  *     microseconds, so raw timestamp output would never hash-match);
  *   - row order is made deterministic with an ORDER BY on both sides.
  *
  * Operator IDs in scaladoc refer to SURVEY.md §2 (reference behavior cited
  * there with file:line into /root/reference).
  */
object CoreQueries {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** A2/A3/A10 — multi-column aggregation with per-column functions
    * (TPC-H Q1 shape; reference: groupby().agg dict, dashboards/app.py:701-704). */
  def q01Agg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(to_date(col("l_shipdate")) <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** P1/P2/P5/P10/F5 — rename, projection, range+IN predicate filter, cast.
    * Filter and projection push down to the parquet scan. */
  def q02FilterProject(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(to_date(col("l_shipdate")).between("1996-01-01", "1996-12-31") &&
        col("l_returnflag").isin("A", "R"))
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_date"),
        col("l_returnflag").as("flag"),
        // raw per-row arithmetic: same IEEE ops on both engines → bit-exact,
        // no rounding needed (rounding here would *create* half-even skew)
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("net_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** J1 — inner equi-join (the reference's core weather⋈energy join,
    * src/pipeline.py:86) + post-join aggregation. Shuffle-hash/SMJ on the
    * key at scale; AQE picks the strategy. */
  def q03JoinAgg(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .join(li(s, d), col("o_orderkey") === col("l_orderkey"), "inner")
      .groupBy("o_orderpriority")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        countDistinct("o_orderkey").as("n_orders"),
        count(lit(1)).as("n_lines"))
      .orderBy("o_orderpriority")

  /** J2 — left outer join against small dimensions, explicitly broadcast
    * (reference: fact ⟕ 5-row city dim, dashboards/app.py:182). */
  def q04JoinBroadcast(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy("r_name", "n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum("c_acctbal"), 2).as("total_acctbal"),
        round(avg("c_acctbal"), 4).as("avg_acctbal"))
      .orderBy("r_name", "n_name")

  /** J5/F7 — densify onto a generated date spine (reference reindex on
    * pd.date_range, src/data_processor.py:10-22): sequence+explode spine
    * cross-joined with the group domain, left join leaves NULLs for
    * absent days. */
  def q05Densify(s: SparkSession, d: String): DataFrame = {
    val e = ev(s, d)
    val spine = e
      .agg(to_date(min("ts")).as("d0"), to_date(max("ts")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val types = e.select("event_type").distinct()
    val daily = e
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    spine.crossJoin(types)
      .join(daily, Seq("day", "event_type"), "left")
      .select("day", "event_type", "n_events", "total_value")
      .orderBy("day", "event_type")
  }

  /** J6/U2 — anti-join diagnostic: spine days with no orders
    * (reference missing-day set difference, src/pipeline.py:42-45). */
  def q06AntiJoin(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    val spine = o
      .agg(to_date(min("o_orderdate")).as("d0"), to_date(max("o_orderdate")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val orderDays = o.select(to_date(col("o_orderdate")).as("day"))
    spine.join(orderDays, Seq("day"), "left_anti").orderBy("day")
  }

  /** P9 — deterministic keep-first dedup via row_number (reference
    * drop_duplicates(keep='first'), src/data_processor.py:16; made
    * deterministic per SURVEY §7.4 trap 3). */
  def q07DedupFirst(s: SparkSession, d: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the test data, so the
    // ordering tie-breaks on every remaining column — otherwise "first"
    // is nondeterministic (exactly SURVEY §7.4 trap 3).
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice", "l_shipdate")
    li(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("l_orderkey"),
        col("l_partkey"),
        col("l_quantity"),
        to_date(col("l_shipdate")).as("ship_date"))
      .orderBy("l_orderkey")
  }

  /** U1 — schema-aligned union-all of per-source frames
    * (reference pd.concat of per-city frames, src/pipeline.py:82-83).
    * The two branches deliberately project columns in different order:
    * unionByName aligns them. */
  def q08Union(s: SparkSession, d: String): DataFrame = {
    val l = li(s, d)
    val a = l.filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), lit("returned").as("src"), col("l_extendedprice").as("price"))
    val b = l.filter(col("l_returnflag") === "N")
      .select(col("l_extendedprice").as("price"), col("l_orderkey"), lit("kept").as("src"))
    a.unionByName(b)
      .groupBy("src")
      .agg(count(lit(1)).as("n"), round(sum("price"), 2).as("total_price"))
      .orderBy("src")
  }

  /** A5/W3 — latest row per group via descending row_number (reference
    * sort_values('date').groupby('city').last(), dashboards/app.py:599).
    * Ordering truncates ts to microseconds on the oracle side to match
    * Spark's timestamp precision. */
  def q09LatestPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    ev(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id"),
        col("event_type"),
        round(col("value"), 2).as("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .orderBy("user_id")
  }

  /** W1/W2 — lag-1 difference and guarded percent change over a
    * per-group date-ordered window (reference .diff() and prev-day
    * pct-change, dashboards/app.py:713-716, 610-613). NULL prev → 0
    * matches the reference's `prev > 0 else 0` guard. */
  def q10LagPct(s: SparkSession, d: String): DataFrame = {
    val daily = ev(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum("value").as("v"))
    val w = Window.partitionBy("event_type").orderBy("day")
    daily
      .withColumn("prev", lag("v", 1).over(w))
      .select(
        col("event_type"),
        col("day"),
        round(col("v"), 2).as("daily_value"),
        round(col("v") - col("prev"), 2).as("diff_1d"),
        round(
          when(col("prev") > 0, (col("v") - col("prev")) / col("prev") * 100)
            .otherwise(0.0), 4).as("pct_change"))
      .orderBy("event_type", "day")
  }

  /** A1/A7/F3/F4 — 2-D pivot aggregate (heatmap: day-of-week × type →
    * mean; reference groupby().unstack(), src/analysis.py:59-66) with the
    * pandas-Monday=0 → ISO dow conversion from SURVEY §7.4 trap 4.
    * Pivot values are pinned so the output schema is static. */
  def q11Pivot(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .select(
        (weekday(col("ts")) + 1).as("dow_idx"), // ISO: Monday=1 .. Sunday=7
        date_format(col("ts"), "EEEE").as("day_of_week"),
        col("event_type"), col("value"))
      .groupBy("dow_idx", "day_of_week")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(avg("value"), 4))
      .na.fill(0.0)
      .orderBy("dow_idx")

  /** F8 — left-closed binning (reference pd.cut(right=False),
    * src/analysis.py:47-54) as a when-chain, then per-bin aggregate. */
  def q12Bins(s: SparkSession, d: String): DataFrame = {
    val bin = when(col("o_totalprice") < 1000, "a_<1k")
      .when(col("o_totalprice") < 10000, "b_1k-10k")
      .when(col("o_totalprice") < 100000, "c_10k-100k")
      .otherwise("d_>=100k")
    ord(s, d)
      .groupBy(bin.as("price_bin"))
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("avg_price"))
      .orderBy("price_bin")
  }

  /** X6/A8/A9/A10 — single-pass data-quality report (reference
    * run_quality_checks, src/data_processor.py:87-112): per-column null
    * counts, threshold outliers, negatives, freshness vs an injected
    * fixed clock (SURVEY §7.4 trap 8). One aggregate, one pass, no
    * per-column jobs. */
  def q13QualityReport(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      count(lit(1)).as("row_count"),
      sum(col("l_quantity").isNull.cast("long")).as("null_quantity"),
      sum(col("l_extendedprice").isNull.cast("long")).as("null_price"),
      sum(col("l_discount").isNull.cast("long")).as("null_discount"),
      sum((col("l_quantity") > 45).cast("long")).as("qty_outliers"),
      sum((col("l_extendedprice") < 0).cast("long")).as("negative_price"),
      date_format(max("l_shipdate"), "yyyy-MM-dd").as("latest_ship_date"),
      datediff(to_date(lit("2026-01-01")), to_date(max("l_shipdate"))).as("days_since_latest"))

  /** X1/X2 — Pearson correlation and closed-form OLS via the built-in
    * regression aggregates (reference scipy linregress, src/analysis.py:17-21).
    * Single pass, no MLlib. */
  def q14Regression(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      round(corr("l_quantity", "l_extendedprice"), 6).as("pearson_r"),
      round(expr("regr_slope(l_extendedprice, l_quantity)"), 6).as("slope"),
      round(expr("regr_intercept(l_extendedprice, l_quantity)"), 6).as("intercept"),
      round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
      count(lit(1)).as("n"))

  /** A12 — per-group mean imputation via window average (reference
    * per-city fillna(mean), src/data_processor.py:59-60; §7.4 trap 2:
    * imputation is per-group, not global). Nulls are injected
    * deterministically so every scale factor exercises the path. */
  def q16Impute(s: SparkSession, d: String): DataFrame = {
    val withNulls = ev(s, d)
      .withColumn("v", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
    val w = Window.partitionBy("event_type")
    withNulls
      .select(
        col("event_id"),
        col("event_type"),
        round(col("v"), 2).as("v"),
        round(coalesce(col("v"), avg("v").over(w)), 4).as("v_imputed"))
      .orderBy("event_id")
  }

  /** P3/A11 — row-wise mean with NaN-skipping semantics vs strict
    * (a+b)/2 (SURVEY §7.4 trap 1: the reference is inconsistent;
    * both variants are surfaced). */
  def q17RowwiseMean(s: SparkSession, d: String): DataFrame = {
    val base = ev(s, d).select(
      col("event_id"),
      when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")).as("a"),
      when(col("event_id") % 5 === 0, lit(null)).otherwise(col("value") * 2).as("b"))
    base.select(
      col("event_id"),
      round(col("a"), 2).as("a"),
      round(col("b"), 2).as("b"),
      round(
        when(col("a").isNull && col("b").isNull, lit(null))
          .when(col("a").isNull, col("b"))
          .when(col("b").isNull, col("a"))
          .otherwise((col("a") + col("b")) / 2), 4).as("mean_skipna"),
      round((col("a") + col("b")) / 2, 4).as("mean_strict"))
      .orderBy("event_id")
  }

  /** F3/F4/F6 — day-name extraction and weekend detection with the
    * Spark(Sun=1..Sat=7) vs pandas(Mon=0) offset handled explicitly. */
  def q18DayOfWeek(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .select(
        date_format(col("ts"), "EEEE").as("day_name"),
        dayofweek(col("ts")).isin(1, 7).cast("int").as("is_weekend"),
        col("value"))
      .groupBy("day_name", "is_weekend")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .orderBy("day_name")

  /** O1/O2 — ordered top-k with deterministic tie-break (reference
    * sort_values + head, dashboards/app.py:559,599). TakeOrderedAndProject
    * physically: no full sort, no full shuffle of the data. */
  def q19TopK(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        to_date(col("o_orderdate")).as("order_date"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(50)

  /** U2 — set difference: customers that never ordered (EXCEPT-distinct
    * semantics on both engines). */
  def q20SetOp(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey")
      .except(ord(s, d).select(col("o_custkey").as("c_custkey")))
      .orderBy("c_custkey")

  /** A2 — time-bucket resample (reference hourly→daily resample('D').sum(),
    * src/data_processor.py:79) as a 6-hour tumbling window; absent buckets
    * keep pandas' sum-of-empty = 0 via coalesce only where the reference
    * produces 0 (SURVEY §7.4 trap 1). */
  def q21Resample(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(coalesce(sum("value"), lit(0.0)), 2).as("total_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("bucket_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .orderBy("bucket_start", "event_type")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_agg", q01Agg,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QuerySpec("q02_filter_project", q02FilterProject,
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date,
        | l_returnflag AS flag,
        | l_extendedprice*(1-l_discount) AS net_price
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
        |  AND l_returnflag IN ('A','R')
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    QuerySpec("q03_join_agg", q03JoinAgg,
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
        | count(DISTINCT o_orderkey) AS n_orders,
        | count(*) AS n_lines
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q04_join_broadcast", q04JoinBroadcast,
      """SELECT r_name, n_name,
        | count(*) AS n_customers,
        | round(sum(c_acctbal),2) AS total_acctbal,
        | round(avg(c_acctbal),4) AS avg_acctbal
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QuerySpec("q05_densify", q05Densify,
      """WITH mm AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        | spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM mm),
        | types AS (SELECT DISTINCT event_type FROM events),
        | daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |   count(*) AS n_events, round(sum(value),2) AS total_value
        |   FROM events GROUP BY 1,2)
        |SELECT s.day, t.event_type, d.n_events, d.total_value
        |FROM spine s CROSS JOIN types t
        |LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
        |ORDER BY 1,2""".stripMargin),
    QuerySpec("q06_anti_join", q06AntiJoin,
      """WITH mm AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0, CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
        | spine AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM mm)
        |SELECT day FROM spine
        |WHERE day NOT IN (SELECT CAST(o_orderdate AS DATE) FROM orders)
        |ORDER BY day""".stripMargin),
    QuerySpec("q07_dedup_first", q07DedupFirst,
      """SELECT l_orderkey, l_partkey, l_quantity, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice, l_shipdate) = 1
        |ORDER BY l_orderkey""".stripMargin),
    QuerySpec("q08_union", q08Union,
      """SELECT src, count(*) AS n, round(sum(price),2) AS total_price FROM (
        | SELECT l_orderkey, 'returned' AS src, l_extendedprice AS price FROM lineitem WHERE l_returnflag = 'A'
        | UNION ALL
        | SELECT l_orderkey, 'kept' AS src, l_extendedprice AS price FROM lineitem WHERE l_returnflag = 'N'
        |) GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q09_latest_per_group", q09LatestPerGroup,
      """SELECT user_id, event_id, event_type, round(value,2) AS value,
        | strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) = 1
        |ORDER BY user_id""".stripMargin),
    QuerySpec("q10_lag_pct", q10LagPct,
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, sum(value) AS v
        | FROM events GROUP BY 1,2)
        |SELECT event_type, day, round(v,2) AS daily_value,
        | round(v - lag(v,1) OVER w, 2) AS diff_1d,
        | round(CASE WHEN lag(v,1) OVER w > 0
        |   THEN (v - lag(v,1) OVER w) / (lag(v,1) OVER w) * 100 ELSE 0 END, 4) AS pct_change
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day)
        |ORDER BY event_type, day""".stripMargin),
    QuerySpec("q11_pivot", q11Pivot,
      """SELECT isodow(ts) AS dow_idx, dayname(ts) AS day_of_week,
        | coalesce(round(avg(value) FILTER (WHERE event_type='click'),4),0) AS click,
        | coalesce(round(avg(value) FILTER (WHERE event_type='error'),4),0) AS error,
        | coalesce(round(avg(value) FILTER (WHERE event_type='purchase'),4),0) AS purchase,
        | coalesce(round(avg(value) FILTER (WHERE event_type='signup'),4),0) AS signup,
        | coalesce(round(avg(value) FILTER (WHERE event_type='view'),4),0) AS view
        |FROM events GROUP BY 1,2 ORDER BY 1""".stripMargin),
    QuerySpec("q12_bins", q12Bins,
      """SELECT CASE WHEN o_totalprice < 1000 THEN 'a_<1k'
        |  WHEN o_totalprice < 10000 THEN 'b_1k-10k'
        |  WHEN o_totalprice < 100000 THEN 'c_10k-100k'
        |  ELSE 'd_>=100k' END AS price_bin,
        | count(*) AS n, round(avg(o_totalprice),2) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q13_quality_report", q13QualityReport,
      """SELECT count(*) AS row_count,
        | count(*) FILTER (WHERE l_quantity IS NULL) AS null_quantity,
        | count(*) FILTER (WHERE l_extendedprice IS NULL) AS null_price,
        | count(*) FILTER (WHERE l_discount IS NULL) AS null_discount,
        | count(*) FILTER (WHERE l_quantity > 45) AS qty_outliers,
        | count(*) FILTER (WHERE l_extendedprice < 0) AS negative_price,
        | strftime(max(l_shipdate), '%Y-%m-%d') AS latest_ship_date,
        | datediff('day', CAST(max(l_shipdate) AS DATE), DATE '2026-01-01') AS days_since_latest
        |FROM lineitem""".stripMargin),
    QuerySpec("q14_regression", q14Regression,
      """SELECT round(corr(l_quantity, l_extendedprice),6) AS pearson_r,
        | round(regr_slope(l_extendedprice, l_quantity),6) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity),6) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity),6) AS r2,
        | count(*) AS n
        |FROM lineitem""".stripMargin),
    QuerySpec("q16_impute", q16Impute,
      """WITH t AS (SELECT event_id, event_type,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT event_id, event_type, round(v,2) AS v,
        | round(coalesce(v, avg(v) OVER (PARTITION BY event_type)),4) AS v_imputed
        |FROM t ORDER BY event_id""".stripMargin),
    QuerySpec("q17_rowwise_mean", q17RowwiseMean,
      """WITH t AS (SELECT event_id,
        |  CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS a,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE value * 2 END AS b
        | FROM events)
        |SELECT event_id, round(a,2) AS a, round(b,2) AS b,
        | round(CASE WHEN a IS NULL AND b IS NULL THEN NULL
        |   WHEN a IS NULL THEN b WHEN b IS NULL THEN a
        |   ELSE (a+b)/2 END, 4) AS mean_skipna,
        | round((a+b)/2, 4) AS mean_strict
        |FROM t ORDER BY event_id""".stripMargin),
    QuerySpec("q18_day_of_week", q18DayOfWeek,
      """SELECT dayname(ts) AS day_name,
        | CAST(isodow(ts) IN (6,7) AS INT) AS is_weekend,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1""".stripMargin),
    QuerySpec("q19_topk", q19TopK,
      """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin),
    QuerySpec("q20_setop", q20SetOp,
      """SELECT c_custkey FROM customer
        |EXCEPT SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin),
    QuerySpec("q21_resample", q21Resample,
      """SELECT strftime(to_timestamp(floor(epoch(ts)/21600)*21600), '%Y-%m-%d %H:%M') AS bucket_start,
        | event_type, count(*) AS n_events,
        | round(coalesce(sum(value),0),2) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin)
  )
}
