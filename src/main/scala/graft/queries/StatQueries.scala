package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Cadence, Privacy, StatTests}
import graft.sources.Tables

/** Round-7 fifth tranche — nonparametric tests + audit operators: the
  * rank tests (Mann–Whitney, Kruskal–Wallis, Spearman) built on the
  * value-histogram exact-rank primitive (no row-scale single-partition
  * windows), the k-anonymity privacy audit, and the event-cadence bot
  * signal. All FULL hash oracles. */
object StatQueries {

  /** One-vs-rest Mann–Whitney U of event values per event type
    * ([[StatTests.mannWhitneyOneVsRest]]): does any event type's value
    * distribution sit above the rest? U, AUC effect size, tie-
    * corrected z per type — five tests from one histogram. */
  def q191MannWhitney(s: SparkSession, d: String): DataFrame =
    StatTests.mannWhitneyOneVsRest(Tables.events(s, d), "value", "event_type")

  /** Kruskal–Wallis rank ANOVA of order totals across order priorities
    * ([[StatTests.kruskalWallis]]): per-priority n + mean rank with
    * the shared H / dof / tie-corrected H in-row. */
  def q192KruskalWallis(s: SparkSession, d: String): DataFrame =
    StatTests.kruskalWallis(Tables.orders(s, d), "o_totalprice", "o_orderpriority")

  /** Spearman rank-correlation matrix over the lineitem measures
    * ([[StatTests.spearmanMatrix]]) — the monotone sibling of q55's
    * Pearson matrix, exact tie handling via histogram average ranks. */
  def q193Spearman(s: SparkSession, d: String): DataFrame =
    StatTests.spearmanMatrix(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** k-anonymity audit of customers under the quasi-identifier triple
    * (nation, market segment, account-balance band)
    * ([[Privacy.kAnonymityAudit]], k = 5): banded class-size report
    * with the table-level k_min and at-risk row share in-row. */
  def q194KAnonymity(s: SparkSession, d: String): DataFrame =
    Privacy.kAnonymityAudit(
      Tables.customer(s, d)
        .withColumn("bal_band", floor(col("c_acctbal") / 1000)),
      Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)

  /** Per-user event-cadence regularity ([[Cadence.gapRegularity]]):
    * whole-second gap CV per user with the metronomic-bot flag. On the
    * Poisson-ish synthetic stream CV sits near 1 and no user flags —
    * the flag path is proven on planted fixtures in CadenceSpec (the
    * q180 no-signal-fixture discipline). */
  def q195Cadence(s: SparkSession, d: String): DataFrame =
    Cadence.gapRegularity(Tables.events(s, d), "user_id", "ts")

  /** Two-sample Kolmogorov–Smirnov over returned-vs-shipped line
    * prices ([[StatTests.ksTwoSample]]): the exact D statistic (max
    * CDF gap, integer numerator), its location (smallest attaining
    * value), and the asymptotic λ scaling — the distribution-shift
    * test every corpus refresh should run between old and new
    * segments. */
  def q238KsTest(s: SparkSession, d: String): DataFrame =
    StatTests.ksTwoSample(Tables.lineitem(s, d),
      "l_extendedprice", "l_returnflag", "R", "N")

  /** Isotonic calibration of order fulfillment against the price band
    * ([[graft.operators.Eval.isotonicCalibration]]): $5k integer-cents
    * price buckets (deterministic `div`, no float binning), label =
    * order fully shipped ('F') — the PAV monotone fit beside each
    * band's raw rate, by the exact minimax identity. */
  def q239Isotonic(s: SparkSession, d: String): DataFrame =
    graft.operators.Eval.isotonicCalibration(
      Tables.orders(s, d)
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
        .withColumn("bucket", expr("cents div 500000"))
        .withColumn("is_f", (col("o_orderstatus") === "F").cast("long")),
      "bucket", "is_f")

  /** Shared oracle fragment: histogram average ranks + scalars over a
    * (g, v) CTE named `d`. */
  private val rankCtes: String =
    """hist AS (SELECT v, count(*) AS cnt FROM d GROUP BY 1),
      |h2 AS (
      |  SELECT v, cnt, coalesce(sum(cnt) OVER (ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM hist),
      |h3 AS (SELECT v, cnt, cb + (cnt + 1) / 2.0 AS avgrank FROM h2),
      |sc AS (
      |  SELECT sum(cnt) * 1.0 AS n,
      |    sum(cnt * 1.0 * cnt * cnt - cnt) AS tiesum
      |  FROM hist),
      |cells AS (SELECT g, v, count(*) AS gcnt FROM d GROUP BY 1, 2),
      |per AS (
      |  SELECT g, sum(gcnt) * 1.0 AS n1, sum(gcnt * avgrank) AS r1
      |  FROM cells JOIN h3 USING (v) GROUP BY 1)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the engine's two-phase bucketed cumulative is restated as the
    // naive single-window CDF (same math, oracle-side scale is fine);
    // D's numerator stays integer on both sides, λ uses only
    // IEEE-correctly-rounded ops (·, /, sqrt) in the same association
    QuerySpec("q238_ks_test", q238KsTest,
      """WITH d AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_returnflag IN ('R', 'N')),
        |c AS (
        |  SELECT v, CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |         CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |  FROM d GROUP BY v),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |             CAST(sum(cb) AS BIGINT) AS nb FROM c),
        |cum AS (
        |  SELECT v, sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb FROM c
        |  WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |x AS (SELECT cum.v, abs(cuma * nb - cumb * na) AS dnum, na, nb
        |      FROM cum, t),
        |top AS (SELECT * FROM x ORDER BY dnum DESC, v LIMIT 1)
        |SELECT na AS n_a, nb AS n_b, v AS at_value,
        |  round(CAST(dnum AS DOUBLE) / (na * nb), 6) AS ks_d,
        |  round((sqrt((na * nb) / CAST(na + nb AS DOUBLE)) + 0.12 +
        |         0.11 / sqrt((na * nb) / CAST(na + nb AS DOUBLE))) *
        |        (CAST(dnum AS DOUBLE) / (na * nb)), 4) AS lambda
        |FROM top""".stripMargin),
    // minimax identity restated directly: prefix sums over the bucket
    // frame, i≤j pair means, per-i suffix min, per-j max
    QuerySpec("q239_isotonic", q239Isotonic,
      """WITH b AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) // 500000 AS bucket,
        |         count(*) AS n,
        |         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
        |  FROM orders GROUP BY 1),
        |pre AS (
        |  SELECT bucket, n, n_pos,
        |    sum(n) OVER w AS cn, sum(n_pos) OVER w AS cp
        |  FROM b
        |  WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |pairs AS (
        |  SELECT lo.bucket AS i, hi.bucket AS j,
        |    CAST(hi.cp - lo.cp + lo.n_pos AS DOUBLE) /
        |      (hi.cn - lo.cn + lo.n) AS mean_ij
        |  FROM pre lo JOIN pre hi ON lo.bucket <= hi.bucket),
        |suf AS (
        |  SELECT i, j, min(mean_ij) OVER (PARTITION BY i ORDER BY j DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
        |  FROM pairs),
        |fit AS (SELECT j AS bucket, max(r) AS f FROM suf GROUP BY 1)
        |SELECT b.bucket, b.n, b.n_pos,
        |  round(CAST(b.n_pos AS DOUBLE) / b.n, 6) AS raw_rate,
        |  round(fit.f, 6) AS iso_rate
        |FROM b JOIN fit USING (bucket)
        |ORDER BY bucket""".stripMargin),
    QuerySpec("q191_mann_whitney", q191MannWhitney,
      s"""WITH d AS (
         |  SELECT event_type AS g, value * 1.0 AS v FROM events
         |  WHERE event_type IS NOT NULL AND value IS NOT NULL),
         |$rankCtes
         |SELECT g AS event_type, CAST(n1 AS BIGINT) AS n1,
         |  CAST(sc.n - n1 AS BIGINT) AS n2,
         |  round(r1 - n1 * (n1 + 1) / 2, 1) AS u,
         |  round((r1 - n1 * (n1 + 1) / 2) / (n1 * (sc.n - n1)), 6) AS auc,
         |  round(((r1 - n1 * (n1 + 1) / 2) - n1 * (sc.n - n1) / 2)
         |    / sqrt(n1 * (sc.n - n1) / 12 * ((sc.n + 1)
         |      - sc.tiesum / (sc.n * (sc.n - 1)))), 6) AS z
         |FROM per CROSS JOIN sc
         |WHERE n1 > 0 AND sc.n - n1 > 0 ORDER BY 1""".stripMargin),
    QuerySpec("q192_kruskal_wallis", q192KruskalWallis,
      s"""WITH d AS (
         |  SELECT o_orderpriority AS g, o_totalprice * 1.0 AS v FROM orders
         |  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
         |$rankCtes,
         |p2 AS (
         |  SELECT per.*, sc.n, sc.tiesum,
         |    n1 * (r1 / n1 - (sc.n + 1) / 2) * (r1 / n1 - (sc.n + 1) / 2)
         |      AS term
         |  FROM per CROSS JOIN sc),
         |tot AS (
         |  SELECT 12.0 / (max(n) * (max(n) + 1)) * sum(term) AS h,
         |    1.0 - max(tiesum) / (max(n) * max(n) * max(n) - max(n)) AS c,
         |    count(*) - 1 AS dof
         |  FROM p2)
         |SELECT g AS o_orderpriority, CAST(n1 AS BIGINT) AS n,
         |  round(r1 / n1, 6) AS mean_rank,
         |  round(tot.h, 6) AS h, tot.dof,
         |  round(tot.h / tot.c, 6) AS h_tie_corrected
         |FROM per CROSS JOIN tot ORDER BY 1""".stripMargin),
    // per-column histogram ranks joined back on the value, Pearson
    // corr over ranks (exact-tie Spearman); corr at round 6 is the
    // q55 cross-engine precedent
    QuerySpec("q193_spearman", q193Spearman,
      """WITH base AS (
        |  SELECT l_quantity * 1.0 AS c1, l_extendedprice * 1.0 AS c2,
        |    l_discount * 1.0 AS c3, l_tax * 1.0 AS c4
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
        |r1 AS (
        |  SELECT v, cb + (cnt + 1) / 2.0 AS r FROM (
        |    SELECT c1 AS v, count(*) AS cnt,
        |      coalesce(sum(count(*)) OVER (ORDER BY c1
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |    FROM base GROUP BY c1)),
        |r2 AS (
        |  SELECT v, cb + (cnt + 1) / 2.0 AS r FROM (
        |    SELECT c2 AS v, count(*) AS cnt,
        |      coalesce(sum(count(*)) OVER (ORDER BY c2
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |    FROM base GROUP BY c2)),
        |r3 AS (
        |  SELECT v, cb + (cnt + 1) / 2.0 AS r FROM (
        |    SELECT c3 AS v, count(*) AS cnt,
        |      coalesce(sum(count(*)) OVER (ORDER BY c3
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |    FROM base GROUP BY c3)),
        |r4 AS (
        |  SELECT v, cb + (cnt + 1) / 2.0 AS r FROM (
        |    SELECT c4 AS v, count(*) AS cnt,
        |      coalesce(sum(count(*)) OVER (ORDER BY c4
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |    FROM base GROUP BY c4)),
        |j AS (
        |  SELECT r1.r AS rk1, r2.r AS rk2, r3.r AS rk3, r4.r AS rk4
        |  FROM base
        |  JOIN r1 ON base.c1 = r1.v JOIN r2 ON base.c2 = r2.v
        |  JOIN r3 ON base.c3 = r3.v JOIN r4 ON base.c4 = r4.v)
        |SELECT
        |  round(corr(rk1, rk2), 6) AS l_quantity_l_extendedprice,
        |  round(corr(rk1, rk3), 6) AS l_quantity_l_discount,
        |  round(corr(rk1, rk4), 6) AS l_quantity_l_tax,
        |  round(corr(rk2, rk3), 6) AS l_extendedprice_l_discount,
        |  round(corr(rk2, rk4), 6) AS l_extendedprice_l_tax,
        |  round(corr(rk3, rk4), 6) AS l_discount_l_tax
        |FROM j""".stripMargin),
    QuerySpec("q194_k_anonymity", q194KAnonymity,
      """WITH cl AS (
        |  SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS bal_band,
        |    count(*) AS csize
        |  FROM customer GROUP BY 1, 2, 3),
        |banded AS (
        |  SELECT CASE WHEN csize = 1 THEN '1_unique'
        |      WHEN csize < 5 THEN '2_below_k'
        |      ELSE '3_at_least_k' END AS band,
        |    count(*) AS n_classes, CAST(sum(csize) AS BIGINT) AS n_rows
        |  FROM cl GROUP BY 1),
        |v AS (
        |  SELECT min(csize) AS k_min,
        |    round(sum(CASE WHEN csize < 5 THEN csize ELSE 0 END)
        |      / (sum(csize) * 1.0), 6) AS pct_rows_below_k
        |  FROM cl)
        |SELECT band, n_classes, n_rows, v.k_min, v.pct_rows_below_k
        |FROM banded CROSS JOIN v ORDER BY band""".stripMargin),
    // whole-second floored gaps: integer-exact variance numerator, so
    // cv and the flag comparison cannot drift across engines
    QuerySpec("q195_cadence", q195Cadence,
      """WITH e AS (
        |  SELECT user_id AS actor, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |lagged AS (
        |  SELECT actor, ts,
        |    lag(ts) OVER (PARTITION BY actor ORDER BY ts) AS prev
        |  FROM e),
        |g AS (
        |  SELECT actor,
        |    floor((epoch_us(ts) - epoch_us(prev)) / 1000000.0) AS g
        |  FROM lagged WHERE prev IS NOT NULL),
        |st AS (
        |  SELECT actor, count(*) * 1.0 AS n, sum(g) * 1.0 AS sg,
        |    sum(g * g) * 1.0 AS sgg
        |  FROM g GROUP BY 1 HAVING count(*) >= 2),
        |m AS (
        |  SELECT actor, n, sg / n AS mean,
        |    (n * sgg - sg * sg) / (n * (n - 1)) AS variance
        |  FROM st)
        |SELECT actor, CAST(n AS BIGINT) AS n_gaps,
        |  round(mean, 4) AS mean_gap_s,
        |  round(sqrt(variance), 4) AS sd_gap_s,
        |  round(CASE WHEN mean > 0 THEN sqrt(variance) / mean END, 6) AS cv,
        |  (CASE WHEN mean > 0 THEN sqrt(variance) / mean END) < 0.3
        |    AND n >= 20 AS is_regular
        |FROM m ORDER BY actor""".stripMargin)
  )
}
