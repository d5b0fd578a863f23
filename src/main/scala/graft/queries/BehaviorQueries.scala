package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Cooccur, Funnel, Interpolate, Quantiles, Sequences, Sessionize}
import graft.sources.Tables

/** Round-7 behavioral-analytics tranche: the clickstream readouts a
  * product warehouse serves daily — ordered funnels, batch
  * sessionization (spec-proven identical to the streaming
  * `session_window`), contiguous sequence mining, and item-item
  * collaborative filtering — each built on the engine's bounded
  * disciplines (key-partitioned windows, within-basket pair
  * generation, driver-scale summary frames).
  */
object BehaviorQueries {

  /** Ordered view → click → purchase funnel with a 7-day conversion
    * window ([[Funnel.funnel]]): per-step reach, step-over-step and
    * from-start conversion, mean hours-to-step. */
  def q167Funnel(s: SparkSession, d: String): DataFrame =
    Funnel.funnel(Tables.events(s, d), keyCol = "user_id", tsCol = "ts",
      stateCol = "event_type", steps = Seq("view", "click", "purchase"),
      windowDays = 7)

  /** Frequent contiguous 3-event sequences over per-user streams
    * ([[Sequences.frequentKGrams]]): occurrence count + user support,
    * support-filtered so the result is scale-stable. */
  def q171SeqMining(s: SparkSession, d: String): DataFrame =
    Sequences.frequentKGrams(Tables.events(s, d), keyCol = "user_id",
      tsCol = "ts", stateCol = "event_type", tieCol = "event_id",
      k = 3, minSupport = 0.01)

  /** Item-item CF top-5 over order baskets ([[Cooccur.itemItemTopK]]):
    * cosine of basket-incidence vectors, within-basket pair generation
    * only, oversized baskets excluded (maxBasket = 10 genuinely fires
    * on the testdata — max basket is 13 at sf0.01). */
  def q172ItemCf(s: SparkSession, d: String): DataFrame =
    Cooccur.itemItemTopK(Tables.lineitem(s, d), basketCol = "l_orderkey",
      itemCol = "l_partkey", k = 5, maxBasket = 10, minPairs = 2)

  /** Batch sessionization with a 30-minute inactivity gap
    * ([[Sessionize.sessionize]]) — the q85 streaming sessions' batch
    * twin (same merge-at-exact-gap boundary semantics, proven
    * equivalent to `session_window` in `BehaviorOpsSpec`), with
    * per-session bounds/volume rollup. */
  def q173Sessionize(s: SparkSession, d: String): DataFrame =
    Sessionize.sessionize(Tables.events(s, d), keyCol = "user_id",
        tsCol = "ts", tieCol = "event_id", gapSeconds = 1800)
      .select(col("user_id"), col("session_seq"),
        date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
        col("n_events"), col("duration_sec"))
      .orderBy("user_id", "session_seq")

  /** Per-user time-weighted average of `value` under step-hold
    * semantics ([[Interpolate.twap]]), beside the plain mean so the
    * irregular-sampling bias is visible. */
  def q174Twap(s: SparkSession, d: String): DataFrame =
    Interpolate.twap(Tables.events(s, d), keys = Seq("user_id"),
        tsCol = "ts", valueCol = "value", tieCols = Seq("event_id"))
      .orderBy("user_id")

  /** Quantity-weighted median and p90 of extended price per return
    * flag ([[Quantiles.weightedQuantiles]]) — "the median dollar",
    * not the median line item; integer-valued weights keep the
    * threshold comparison exact across engines. */
  def q175WeightedQuantiles(s: SparkSession, d: String): DataFrame =
    Quantiles.weightedQuantiles(Tables.lineitem(s, d),
      valueCol = "l_extendedprice", weightCol = "l_quantity",
      qs = Seq(0.5, 0.9), groupCols = Seq("l_returnflag"))

  /** Weekly cohort retention matrix: share of each first-active-week
    * cohort active again at each week offset — the activity twin of
    * q165's revenue LTV curves (distinct-user fraction, not revenue
    * accumulation); all analytics on the (cohort, offset) cell grid. */
  def q176Retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 7)
          .cast("int").as("week"))
    val firstWeek = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = firstWeek.groupBy("cohort_week").agg(count(lit(1)).as("n_users"))
    // (user, week) is already distinct and a user has ONE cohort week,
    // so plain count suffices — a countDistinct here would pay a
    // second Expand pass for nothing (review finding)
    val cells = ev.distinct().join(firstWeek, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    cells.join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"), col("n_active"),
        round(col("n_active") / col("n_users").cast("double"), 4).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Watermark-lateness audit — the measurement that SIZES a streaming
    * watermark before anyone deploys one: with event_id as the ingest
    * sequence, each event's lateness is how far it arrived behind its
    * key's running-max event time (the per-key watermark proxy), and
    * the output prices candidate delays (1 m / 10 m / 1 h / 6 h) by
    * the events each would drop. Complements the streaming family
    * (q85/q87/q263) from the design side: those queries ASSUME a
    * delay, this one derives it from the data.
    *
    * Scale shape: ONE key-partitioned running-max window (the engine's
    * standard per-key ordered window, no global ordering spine), then
    * ONE aggregate with the four delay predicates as conditional sums;
    * the 4-row readout is a driver-scale stack. Exactness: timestamps
    * are integer MICROS end to end (`unix_micros` ↔ DuckDB
    * `epoch_us(date_trunc('microseconds', …))`, the q126 precedent),
    * so lateness, counts, and max are BIGINTs; the single pct divides
    * the same two BIGINTs on both engines (round 4). */
  def q299WatermarkAudit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lateness = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
      .withColumn("wm", max("tsu").over(
        Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select((col("wm") - col("tsu")).as("late"))
    val delays = Seq(("1m", 60000000L), ("10m", 600000000L),
      ("1h", 3600000000L), ("6h", 21600000000L))
    val aggCols = Seq(max(col("late")).as("max_late")) ++
      delays.map { case (lbl, us) =>
        sum(when(col("late") > us, 1L).otherwise(0L)).as(s"late_$lbl")
      }
    val agg = lateness.agg(count(lit(1)).as("n_events"), aggCols: _*)
    agg.select(expr(
      "stack(4, '1m', 1L, late_1m, '10m', 10L, late_10m, " +
        "'1h', 60L, late_1h, '6h', 360L, late_6h) AS (delay, delay_minutes, n_late)"),
      col("n_events"), col("max_late"))
      .select(col("delay"), col("delay_minutes"), col("n_events"), col("n_late"),
        round(lit(100.0) * col("n_late") / col("n_events"), 4).as("late_pct"),
        col("max_late"))
      .orderBy("delay_minutes")
  }

  val specs: Seq[QuerySpec] = Seq(
    // integer-micros lateness against the per-key running max; the
    // four delay predicates are the same BIGINT comparisons
    QuerySpec("q299_watermark_audit", q299WatermarkAudit,
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_us(date_trunc('microseconds', ts)) AS tsu
        |  FROM events),
        |r AS (
        |  SELECT max(tsu) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS UNBOUNDED PRECEDING) - tsu AS late
        |  FROM e),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(max(late) AS BIGINT) AS max_late,
        |    CAST(sum(CASE WHEN late > 60000000 THEN 1 ELSE 0 END) AS BIGINT) AS l1,
        |    CAST(sum(CASE WHEN late > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS l10,
        |    CAST(sum(CASE WHEN late > 3600000000 THEN 1 ELSE 0 END) AS BIGINT) AS l60,
        |    CAST(sum(CASE WHEN late > 21600000000 THEN 1 ELSE 0 END) AS BIGINT) AS l360
        |  FROM r),
        |s AS (
        |  SELECT '1m' AS delay, CAST(1 AS BIGINT) AS delay_minutes, l1 AS n_late,
        |    n_events, max_late FROM a
        |  UNION ALL SELECT '10m', 10, l10, n_events, max_late FROM a
        |  UNION ALL SELECT '1h', 60, l60, n_events, max_late FROM a
        |  UNION ALL SELECT '6h', 360, l360, n_events, max_late FROM a)
        |SELECT delay, delay_minutes, n_events, n_late,
        |  round(100.0 * n_late / n_events, 4) AS late_pct, max_late
        |FROM s ORDER BY delay_minutes""".stripMargin),
    // the strict-sequence min-join chain restated step by step; the
    // avg divides the exact microsecond-delta sum once at the end
    // (the shuffle-order-independence discipline, see Funnel scaladoc)
    QuerySpec("q167_funnel", q167Funnel,
      """WITH evn AS (
        |  SELECT user_id, event_type,
        |    date_trunc('microseconds', ts) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id AS k, min(ts) AS ts1 FROM evn
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1d AS (SELECT k, ts1, ts1 + INTERVAL 7 DAY AS deadline FROM s1),
        |s2 AS (
        |  SELECT e.user_id AS k, s.ts1, s.deadline, min(e.ts) AS ts2
        |  FROM evn e JOIN s1d s ON e.user_id = s.k
        |  WHERE e.event_type = 'click' AND e.ts > s.ts1 AND e.ts <= s.deadline
        |  GROUP BY 1, 2, 3),
        |s3 AS (
        |  SELECT e.user_id AS k, s.ts1, min(e.ts) AS ts3
        |  FROM evn e JOIN s2 s ON e.user_id = s.k
        |  WHERE e.event_type = 'purchase' AND e.ts > s.ts2 AND e.ts <= s.deadline
        |  GROUP BY 1, 2),
        |summ AS (
        |  SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users,
        |    CAST(0 AS BIGINT) AS sum_us FROM s1d
        |  UNION ALL
        |  SELECT 2, 'click', count(*),
        |    coalesce(sum(epoch_us(ts2) - epoch_us(ts1)), 0) FROM s2
        |  UNION ALL
        |  SELECT 3, 'purchase', count(*),
        |    coalesce(sum(epoch_us(ts3) - epoch_us(ts1)), 0) FROM s3)
        |SELECT step, step_name, n_users,
        |  round(n_users * 1.0 / (SELECT n_users FROM summ WHERE step = 1), 4)
        |    AS pct_of_start,
        |  round(n_users * 1.0 /
        |    coalesce(lag(n_users) OVER (ORDER BY step), n_users), 4) AS pct_of_prev,
        |  round(sum_us * 1.0 / nullif(n_users, 0) / 3600e6, 2) AS avg_hours_to_step
        |FROM summ ORDER BY step""".stripMargin),
    // lead(st,2) non-null implies lead(st,1) non-null within the
    // partition (contiguity), so one completeness guard suffices
    QuerySpec("q171_seq_mining", q171SeqMining,
      """WITH s AS (
        |  SELECT user_id, date_trunc('microseconds', ts) AS ts, event_id,
        |    coalesce(event_type, '(null)') AS st FROM events
        |  WHERE user_id IS NOT NULL),
        |g AS (
        |  SELECT user_id,
        |    st || ' > ' || lead(st, 1) OVER w || ' > ' || lead(st, 2) OVER w AS gram,
        |    lead(st, 2) OVER w AS l2
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |cells AS (
        |  SELECT gram, count(*) AS n_occurrences,
        |    count(DISTINCT user_id) AS n_users
        |  FROM g WHERE l2 IS NOT NULL GROUP BY 1),
        |tot AS (SELECT count(DISTINCT user_id) AS tu FROM s)
        |SELECT gram, n_occurrences, n_users,
        |  round(n_users * 1.0 / tu, 6) AS support
        |FROM cells, tot
        |WHERE round(n_users * 1.0 / tu, 6) >= 0.01
        |ORDER BY gram""".stripMargin),
    // cosine rounded BEFORE ranking on both sides, so rank ties break
    // identically (the q146 round-before-select discipline)
    QuerySpec("q172_item_cf", q172ItemCf,
      """WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |sz AS (SELECT bk, count(*) AS n FROM b GROUP BY 1),
        |kept AS (SELECT b.bk, b.item FROM b JOIN sz ON b.bk = sz.bk WHERE sz.n <= 10),
        |ic AS (SELECT item, count(*) AS n_i FROM kept GROUP BY 1),
        |half AS (
        |  SELECT x.item AS a, y.item AS b2, count(*) AS n_ab
        |  FROM kept x JOIN kept y ON x.bk = y.bk AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT a, b2, n_ab FROM half
        |  UNION ALL SELECT b2, a, n_ab FROM half),
        |scored AS (
        |  SELECT d.a, d.b2, d.n_ab, ia.n_i AS n_a, ib.n_i AS n_b,
        |    round(d.n_ab / sqrt(ia.n_i * ib.n_i), 6) AS cosine
        |  FROM directed d
        |  JOIN ic ia ON ia.item = d.a JOIN ic ib ON ib.item = d.b2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY a ORDER BY cosine DESC, b2) AS rank
        |  FROM scored)
        |SELECT a AS item, b2 AS neighbor, n_ab, n_a, n_b, cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY item, rank""".stripMargin),
    // diff > gap starts a new session; diff == gap merges — the
    // session_window convention, boundary-proven in BehaviorOpsSpec
    QuerySpec("q173_sessionize", q173Sessionize,
      """WITH evn AS (
        |  SELECT user_id, event_id,
        |    date_trunc('microseconds', ts) AS ts FROM events),
        |f AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS newf
        |  FROM evn WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |seq AS (
        |  SELECT user_id, ts,
        |    CAST(sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM f)
        |SELECT user_id, session_seq,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |  count(*) AS n_events,
        |  round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6, 3) AS duration_sec
        |FROM seq GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin),
    // last observation's hold interval is open (lead is NULL) and
    // drops out of both sums on both engines
    QuerySpec("q174_twap", q174Twap,
      """WITH evn AS (
        |  SELECT user_id, event_id, value,
        |    date_trunc('microseconds', ts) AS ts FROM events
        |  WHERE value IS NOT NULL),
        |x AS (
        |  SELECT user_id, value, epoch_us(ts) AS tu,
        |    lead(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM evn),
        |a AS (
        |  SELECT user_id, count(*) AS n_obs,
        |    round((max(tu) - min(tu)) / 1e6, 3) AS span_sec,
        |    round(avg(value), 4) AS mean_value,
        |    round(sum(value * (nxt - tu)) / sum(nxt - tu), 4) AS twap
        |  FROM x GROUP BY 1)
        |SELECT * FROM a WHERE n_obs >= 2 AND span_sec > 0
        |ORDER BY user_id""".stripMargin),
    // integer-valued l_quantity keeps every cumulative/total sum exact
    // in double, so the q*W threshold cannot flip on accumulation order
    QuerySpec("q175_weighted_quantiles", q175WeightedQuantiles,
      """WITH c AS (
        |  SELECT l_returnflag, l_extendedprice AS v,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber
        |      ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |    AND l_quantity > 0),
        |qs(q) AS (VALUES (0.5), (0.9))
        |SELECT l_returnflag, q, min(v) AS value, max(totw) AS total_weight
        |FROM c CROSS JOIN qs
        |WHERE cumw >= q * totw
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("q176_retention", q176Retention,
      """WITH ev AS (
        |  SELECT user_id,
        |    CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0)
        |      AS INT) AS week
        |  FROM events),
        |fw AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
        |sz AS (SELECT cohort_week, count(*) AS n_users FROM fw GROUP BY 1),
        |cells AS (
        |  SELECT f.cohort_week, e.week - f.cohort_week AS week_offset,
        |    count(*) AS n_active
        |  FROM (SELECT DISTINCT user_id, week FROM ev) e
        |  JOIN fw f ON e.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT c.cohort_week, c.week_offset, s.n_users, c.n_active,
        |  round(c.n_active * 1.0 / s.n_users, 4) AS retention
        |FROM cells c JOIN sz s ON c.cohort_week = s.cohort_week
        |ORDER BY 1, 2""".stripMargin)
  )
}
