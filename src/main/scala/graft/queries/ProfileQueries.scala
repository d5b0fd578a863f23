package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Drift, Eval, InfoTheory, JoinAudit, Profile, RobustStats, TextSearch}
import graft.sources.Tables

/** Round-7 profiling / dependence-screening tranche: the one-pass
  * table profile, the chi-square independence test, and mutual-
  * information feature ranking — the triage queries run against any
  * unfamiliar table before modeling or contract-writing starts.
  */
object ProfileQueries {

  /** Chi-square independence of order priority × order status
    * ([[InfoTheory.chiSquare]]): full-spine contingency cells with
    * expected counts and contributions, plus chi2/dof/Cramér's V. */
  def q168Chi2(s: SparkSession, d: String): DataFrame =
    InfoTheory.chiSquare(Tables.orders(s, d), "o_orderpriority", "o_orderstatus")

  /** One-pass profile of `lineitem` ([[Profile.profile]]): per-column
    * counts, nulls, exact distincts, typed min/max, numeric means —
    * 11 columns, one fused aggregate. */
  def q169Profile(s: SparkSession, d: String): DataFrame =
    Profile.profile(Tables.lineitem(s, d))

  /** Mutual information of three categorical features against the
    * high-value-order label ([[InfoTheory.mutualInfo]]): one melted
    * scan for all features, MI in nats + label entropy + normalized
    * MI. The label threshold is the exact order-price median. */
  def q170MutualInfo(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val med = o.agg(expr("percentile(o_totalprice, 0.5)").as("m"))
    val labeled = o.join(c, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(med))
      // when/otherwise, not a bool cast: a null price must label 0 the
      // way the oracle's CASE does, not become a third "(null)" level
      .withColumn("high_value",
        when(col("o_totalprice") > col("m"), 1).otherwise(0))
    InfoTheory.mutualInfo(labeled,
      Seq("o_orderpriority", "o_orderstatus", "c_mktsegment"), "high_value")
  }

  /** Join fan-out pre-flight audit ([[JoinAudit.fanout]]) of the
    * lineitem ⋈ lineitem self-join on part key (the co-supply
    * exploration join): hottest keys, exact output cardinality, m2m
    * key count, amplification — computed from key histograms, strictly
    * cheaper than the join it audits. */
  def q177JoinAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    JoinAudit.fanout(li, li, "l_partkey", "l_partkey", k = 20)
  }

  /** Modified-z robust outliers ([[RobustStats.robustZOutliers]]) on
    * event values per event type: median/MAD from two exact-quantile
    * passes, |z| > 3.5 flags survive (≈390 real outliers at sf0.01 —
    * the fixture genuinely exercises the flag path). */
  def q178RobustZ(s: SparkSession, d: String): DataFrame =
    RobustStats.robustZOutliers(Tables.events(s, d), valueCol = "value",
      groupCols = Seq("event_type"), idCols = Seq("event_id"), zThresh = 3.5)

  /** Skew-safe per-group top-k via the native `topk_agg` bounded-heap
    * aggregate (`plans/TopKAgg.scala`): map-side partial top-k means
    * the shuffle carries groups×k pairs, not every row — the
    * formulation `row_number() <= k` cannot provide (it sorts every
    * row of a group on one reducer). The oracle IS the window
    * formulation — the hash match proves the two equivalent. */
  def q179TopkNative(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(expr("topk_agg(value, event_id, 10)").as("top"))
      .select(col("event_type"), posexplode(col("top")))
      .select(col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("value"), col("col.id").as("event_id"))
      .orderBy("event_type", "rank")
  }

  /** Exact tie-aware AUC per language ([[Eval.aucByGroup]]): how well
    * document length separates the two-digit sources from the rest —
    * a no-signal fixture by construction (AUC ≈ 0.5), which is itself
    * the point: the exact rank identity must agree across engines even
    * when every rank matters and ties abound. */
  def q180Auc(s: SparkSession, d: String): DataFrame =
    Eval.aucByGroup(
      Tables.documents(s, d)
        // when/otherwise, not a bool cast: a null source must label 0
        // like the oracle's CASE (the q170 lesson, again)
        .withColumn("is_late_source",
          when(length(col("source")) > 4, 1).otherwise(0)),
      groupCols = Seq("lang"), scoreCol = "n_chars", labelCol = "is_late_source")

  /** PMI collocations over the corpus ([[TextSearch.pmiCollocations]]):
    * top-50 adjacent pairs by normalized PMI with the min-count guard —
    * phrase extraction, the statistic q97's LM doesn't provide. */
  def q182Pmi(s: SparkSession, d: String): DataFrame =
    TextSearch.pmiCollocations(Tables.documents(s, d), minCount = 5, topK = 50)

  /** Token-space drift between the early- and late-source sub-corpora
    * ([[Drift.tokenDivergence]]): JS divergence + both KLs over
    * smoothed unigram distributions, top-20 contributing tokens for
    * attribution — the vocabulary monitor beside q132's numeric PSI. */
  def q183TokenDrift(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Drift.tokenDivergence(
      docs.where(length(col("source")) <= 4),
      docs.where(length(col("source")) > 4), topK = 20)
  }

  /** Functional-dependency audit over the order-line join
    * ([[graft.operators.Profile.fdAudit]]): one rule that HOLDS by
    * construction (l_orderkey → o_custkey — the join key determines
    * its parent's attribute; confidence exactly 1 proves the audit's
    * zero-violation path on real data) and two that fail honestly
    * (l_orderkey → l_shipmode, l_partkey → l_returnflag), with g₃
    * violation rows and confidence per rule. */
  def q240FdAudit(s: SparkSession, d: String): DataFrame = {
    val j = Tables.lineitem(s, d)
      .join(Tables.orders(s, d),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "o_custkey", "l_linestatus", "l_partkey", "l_returnflag")
    graft.operators.Profile.fdAudit(j, Seq(
      ("l_orderkey->o_custkey", Seq("l_orderkey"), "o_custkey"),
      ("l_orderkey->l_linestatus", Seq("l_orderkey"), "l_linestatus"),
      ("l_partkey->l_returnflag", Seq("l_partkey"), "l_returnflag")))
  }

  private def profileNumSql(c: String, dtype: String): String =
    s"""SELECT '$c' AS "column", '$dtype' AS dtype, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
       |  CAST(min($c) AS DOUBLE) AS min_num, CAST(max($c) AS DOUBLE) AS max_num,
       |  round(avg($c), 4) AS mean,
       |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
       |FROM lineitem""".stripMargin

  private def profileStrSql(c: String, dtype: String, minS: String, maxS: String): String =
    s"""SELECT '$c' AS "column", '$dtype' AS dtype, count(*) AS n_rows,
       |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
       |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
       |  CAST(NULL AS DOUBLE) AS mean, $minS AS min_str, $maxS AS max_str
       |FROM lineitem""".stripMargin

  private def fdRuleSql(name: String, lhs: String, rhs: String): String =
    s"""SELECT '$name' AS rule, CAST(sum(gn) AS BIGINT) AS n_rows, count(*) AS n_groups,
       |  CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
       |  CAST(sum(gn - gmax) AS BIGINT) AS n_violation_rows,
       |  round(1.0 - CAST(sum(gn - gmax) AS DOUBLE) / sum(gn), 6) AS confidence
       |FROM (
       |  SELECT $lhs, sum(c) AS gn, max(c) AS gmax, count(*) AS nv FROM (
       |    SELECT $lhs, $rhs, count(*) AS c FROM j GROUP BY $lhs, $rhs) t
       |  GROUP BY $lhs) g""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q240_fd_audit", q240FdAudit,
      s"""WITH j AS (
         |  SELECT l_orderkey, o_custkey, l_linestatus, l_partkey, l_returnflag
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         |${fdRuleSql("l_orderkey->o_custkey", "l_orderkey", "o_custkey")}
         |UNION ALL
         |${fdRuleSql("l_orderkey->l_linestatus", "l_orderkey", "l_linestatus")}
         |UNION ALL
         |${fdRuleSql("l_partkey->l_returnflag", "l_partkey", "l_returnflag")}
         |ORDER BY rule""".stripMargin),
    // full-spine expectation (absent cells contribute, the q161
    // discipline); statistics are sums over the 15-cell frame
    QuerySpec("q168_chi2", q168Chi2,
      """WITH obs AS (
        |  SELECT coalesce(CAST(o_orderpriority AS VARCHAR), '(null)') AS a,
        |    coalesce(CAST(o_orderstatus AS VARCHAR), '(null)') AS b,
        |    count(*) AS observed
        |  FROM orders GROUP BY 1, 2),
        |aa AS (SELECT DISTINCT a FROM obs), bb AS (SELECT DISTINCT b FROM obs),
        |fs AS (
        |  SELECT aa.a, bb.b, coalesce(o.observed, 0) AS observed
        |  FROM aa CROSS JOIN bb LEFT JOIN obs o ON o.a = aa.a AND o.b = bb.b),
        |m AS (
        |  SELECT *, sum(observed) OVER (PARTITION BY a) AS row_n,
        |    sum(observed) OVER (PARTITION BY b) AS col_n,
        |    sum(observed) OVER () AS n
        |  FROM fs),
        |e AS (
        |  SELECT a, b, observed,
        |    row_n * col_n / (n * 1.0) AS expected,
        |    power(observed - row_n * col_n / (n * 1.0), 2)
        |      / (row_n * col_n / (n * 1.0)) AS contrib
        |  FROM m),
        |t AS (
        |  SELECT round(sum(contrib), 4) AS chi2,
        |    (count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS dof,
        |    round(sqrt(sum(contrib) / ((SELECT max(n) FROM m) *
        |      least(count(DISTINCT a) - 1, count(DISTINCT b) - 1))), 6) AS cramers_v
        |  FROM e),
        |tb AS (
        |  SELECT *, CASE WHEN cramers_v < 0.1 THEN 'negligible'
        |    WHEN cramers_v < 0.3 THEN 'small'
        |    WHEN cramers_v < 0.5 THEN 'medium' ELSE 'large' END AS effect_band
        |  FROM t)
        |SELECT e.a, e.b, e.observed, round(e.expected, 4) AS expected,
        |  round(e.contrib, 4) AS contrib, tb.chi2, tb.dof, tb.cramers_v,
        |  tb.effect_band
        |FROM e CROSS JOIN tb ORDER BY e.a, e.b""".stripMargin),
    QuerySpec("q169_profile", q169Profile, Seq(
      profileNumSql("l_orderkey", "bigint"),
      profileNumSql("l_partkey", "bigint"),
      profileNumSql("l_suppkey", "bigint"),
      profileNumSql("l_linenumber", "int"),
      profileNumSql("l_quantity", "double"),
      profileNumSql("l_extendedprice", "double"),
      profileNumSql("l_discount", "double"),
      profileNumSql("l_tax", "double"),
      profileStrSql("l_returnflag", "string", "min(l_returnflag)", "max(l_returnflag)"),
      profileStrSql("l_linestatus", "string", "min(l_linestatus)", "max(l_linestatus)"),
      profileStrSql("l_shipdate", "timestamp_ntz",
        "strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S.%f')",
        "strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S.%f')")
    ).mkString("\n", "\nUNION ALL\n", "\nORDER BY 1")),
    // integer products stay below 2^53, so both engines' doubles are
    // exact up to the final division; ln + round 6 is the q97/q132
    // cross-engine convention
    QuerySpec("q170_mutual_info", q170MutualInfo,
      """WITH med AS (SELECT quantile_cont(o_totalprice, 0.5) AS m FROM orders),
        |base AS (
        |  SELECT o.*, c.c_mktsegment,
        |    CASE WHEN o.o_totalprice > med.m THEN 1 ELSE 0 END AS y
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey, med),
        |m AS (
        |  SELECT 'o_orderpriority' AS feature,
        |    coalesce(CAST(o_orderpriority AS VARCHAR), '(null)') AS x,
        |    CAST(y AS VARCHAR) AS y FROM base
        |  UNION ALL
        |  SELECT 'o_orderstatus',
        |    coalesce(CAST(o_orderstatus AS VARCHAR), '(null)'),
        |    CAST(y AS VARCHAR) FROM base
        |  UNION ALL
        |  SELECT 'c_mktsegment',
        |    coalesce(CAST(c_mktsegment AS VARCHAR), '(null)'),
        |    CAST(y AS VARCHAR) FROM base),
        |cells AS (
        |  SELECT feature, x, y, count(*) AS n_xy FROM m GROUP BY 1, 2, 3),
        |en AS (
        |  SELECT *, sum(n_xy) OVER (PARTITION BY feature, x) AS n_x,
        |    sum(n_xy) OVER (PARTITION BY feature, y) AS n_y,
        |    sum(n_xy) OVER (PARTITION BY feature) AS n
        |  FROM cells),
        |h AS (
        |  SELECT round(sum(-(n_y * 1.0 / n) * ln(n_y * 1.0 / n)), 6) AS h_label
        |  FROM (SELECT DISTINCT y, n_y, n FROM en
        |        WHERE feature = 'o_orderpriority')),
        |agg AS (
        |  SELECT feature, count(DISTINCT x) AS n_levels,
        |    sum((n_xy * 1.0 / n) *
        |      ln(n_xy * 1.0 * n / (n_x * 1.0 * n_y))) AS mi_raw
        |  FROM en GROUP BY 1)
        |SELECT feature, n_levels, round(mi_raw, 6) AS mi_nats, h.h_label,
        |  round(mi_raw / h.h_label, 6) AS nmi
        |FROM agg CROSS JOIN h ORDER BY feature""".stripMargin),
    // per-key products as doubles (exact integers below 2^53, the
    // overflow-safe representation both engines share)
    QuerySpec("q177_join_audit", q177JoinAudit,
      """WITH lh AS (SELECT l_partkey AS key, count(*) AS n_l
        |  FROM lineitem GROUP BY 1),
        |rh AS (SELECT l_partkey AS key, count(*) AS n_r
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT lh.key, lh.n_l, rh.n_r, lh.n_l * 1.0 * rh.n_r AS out_rows
        |  FROM lh JOIN rh ON lh.key = rh.key),
        |c AS (
        |  SELECT coalesce(sum(out_rows), 0) AS est_join_rows,
        |    count(*) AS n_keys_matched,
        |    CAST(sum(CASE WHEN n_l > 1 AND n_r > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_m2m_keys
        |  FROM m),
        |tl AS (SELECT sum(n_l) AS n FROM lh),
        |tr AS (SELECT sum(n_r) AS n FROM rh),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY out_rows DESC, key)
        |    AS INT) AS rank FROM m)
        |SELECT r.rank, r.key, r.n_l, r.n_r, r.out_rows, c.est_join_rows,
        |  c.n_keys_matched, c.n_m2m_keys,
        |  round(c.est_join_rows / greatest(tl.n, tr.n), 4) AS amplification
        |FROM ranked r CROSS JOIN c CROSS JOIN tl CROSS JOIN tr
        |WHERE r.rank <= 20 ORDER BY r.rank""".stripMargin),
    // median and MAD restated via the q127 rank-selection rule
    // (ceil(q*n), lower order statistic) — NOT quantile_cont's
    // interpolation; z is per-row double arithmetic, bit-exact
    QuerySpec("q178_robust_z", q178RobustZ,
      """WITH t AS (
        |  SELECT event_id, event_type, value FROM events
        |  WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*) AS n FROM t GROUP BY 1),
        |r AS (SELECT event_type, value, row_number() OVER (
        |    PARTITION BY event_type ORDER BY value) AS rk FROM t),
        |med AS (
        |  SELECT r.event_type, r.value AS median FROM r
        |  JOIN n ON r.event_type = n.event_type
        |    AND r.rk = CAST(ceil(0.5 * n.n) AS BIGINT)),
        |dev AS (
        |  SELECT t.event_id, t.event_type, t.value, med.median,
        |    abs(t.value - med.median) AS ad
        |  FROM t JOIN med ON t.event_type = med.event_type),
        |n2 AS (SELECT event_type, count(*) AS n FROM dev GROUP BY 1),
        |r2 AS (SELECT event_type, ad, row_number() OVER (
        |    PARTITION BY event_type ORDER BY ad) AS rk FROM dev),
        |mad AS (
        |  SELECT r2.event_type, r2.ad AS mad FROM r2
        |  JOIN n2 ON r2.event_type = n2.event_type
        |    AND r2.rk = CAST(ceil(0.5 * n2.n) AS BIGINT)),
        |sc AS (
        |  SELECT d.event_id, d.event_type, d.value, d.median, mad.mad,
        |    round(0.6745 * (d.value - d.median) / mad.mad, 4) AS z
        |  FROM dev d JOIN mad ON d.event_type = mad.event_type
        |  WHERE mad.mad > 0),
        |o AS (SELECT * FROM sc WHERE abs(z) > 3.5),
        |cnt AS (SELECT event_type, count(*) AS n_outliers_group
        |  FROM o GROUP BY 1)
        |SELECT o.event_id, o.event_type, o.value, o.median, o.mad, o.z,
        |  cnt.n_outliers_group
        |FROM o JOIN cnt ON o.event_type = cnt.event_type
        |ORDER BY o.event_type, o.event_id""".stripMargin),
    // the oracle is the window formulation the native aggregate
    // replaces — the hash match is the equivalence proof
    QuerySpec("q179_topk_native", q179TopkNative,
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL)
        |SELECT event_type, rank, value, event_id FROM r
        |WHERE rank <= 10 ORDER BY 1, 2""".stripMargin),
    // Mann-Whitney with average ranks: rank() is min-rank of ties in
    // both engines; halves are exact in double
    QuerySpec("q180_auc", q180Auc,
      """WITH t AS (
        |  SELECT lang, CAST(n_chars AS DOUBLE) AS s,
        |    CASE WHEN length(source) > 4 THEN 1 ELSE 0 END AS y
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (
        |  SELECT lang, s, y,
        |    rank() OVER (PARTITION BY lang ORDER BY s) AS minrank,
        |    count(*) OVER (PARTITION BY lang, s) AS tie
        |  FROM t),
        |a AS (
        |  SELECT lang,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - y) AS BIGINT) AS n_neg,
        |    sum(CASE WHEN y = 1 THEN minrank + (tie - 1) / 2.0 END) AS sumrank
        |  FROM r GROUP BY 1)
        |SELECT lang, n_pos, n_neg,
        |  round((sumrank - n_pos * 1.0 * (n_pos + 1) / 2) /
        |    (n_pos * 1.0 * n_neg), 6) AS auc
        |FROM a WHERE n_pos > 0 AND n_neg > 0 ORDER BY lang""".stripMargin),
    // pair total computed BEFORE the min-count filter (it is the
    // probability denominator, not a workload cap); npmi rounded to 6
    // before ranking on both sides
    QuerySpec("q182_pmi", q182Pmi,
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |uni AS (SELECT unnest(tk) AS w FROM toks),
        |uc AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
        |ut AS (SELECT sum(c) AS t_uni FROM uc),
        |pr AS (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2
        |  FROM toks CROSS JOIN unnest(range(1, len(tk))) AS t(i)),
        |pc AS (SELECT w1, w2, count(*) AS c12 FROM pr GROUP BY 1, 2),
        |pt AS (SELECT sum(c12) AS t_pair FROM pc),
        |sc AS (
        |  SELECT pc.w1, pc.w2, pc.c12, u1.c AS c1, u2.c AS c2,
        |    pc.c12 / (pt.t_pair * 1.0) AS p12,
        |    round(ln((pc.c12 / (pt.t_pair * 1.0)) /
        |      ((u1.c / (ut.t_uni * 1.0)) * (u2.c / (ut.t_uni * 1.0)))), 6) AS pmi,
        |    round(ln((pc.c12 / (pt.t_pair * 1.0)) /
        |      ((u1.c / (ut.t_uni * 1.0)) * (u2.c / (ut.t_uni * 1.0)))) /
        |      -ln(pc.c12 / (pt.t_pair * 1.0)), 6) AS npmi
        |  FROM pc
        |  JOIN uc u1 ON u1.w = pc.w1 JOIN uc u2 ON u2.w = pc.w2
        |  CROSS JOIN ut CROSS JOIN pt
        |  WHERE pc.c12 >= 5),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY npmi DESC, w1, w2)
        |    AS INT) AS rank FROM sc)
        |SELECT rank, w1 || ' ' || w2 AS bigram, c12, c1, c2, pmi, npmi
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin),
    // union-vocab add-half smoothing; totals sum UNROUNDED terms and
    // round once; contribution rounded to 6 before the ranking
    QuerySpec("q183_token_drift", q183TokenDrift,
      """WITH a AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE length(source) <= 4),
        |b AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents WHERE length(source) > 4),
        |ca AS (SELECT token, count(*) AS n_a FROM a GROUP BY 1),
        |cb AS (SELECT token, count(*) AS n_b FROM b GROUP BY 1),
        |j AS (
        |  SELECT token, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL JOIN cb USING (token)),
        |v AS (SELECT count(*) AS nv, sum(n_a) AS ta, sum(n_b) AS tb FROM j),
        |s AS (
        |  SELECT j.*, (n_a + 0.5) / (ta + 0.5 * nv) AS pa,
        |    (n_b + 0.5) / (tb + 0.5 * nv) AS pb
        |  FROM j CROSS JOIN v),
        |s2 AS (
        |  SELECT *, pa * ln(pa / pb) AS klab, pb * ln(pb / pa) AS klba,
        |    (pa * ln(pa / ((pa + pb) / 2)) + pb * ln(pb / ((pa + pb) / 2))) / 2 AS jsx
        |  FROM s),
        |t AS (
        |  SELECT round(sum(klab), 6) AS kl_ab, round(sum(klba), 6) AS kl_ba,
        |    round(sum(jsx), 6) AS js FROM s2),
        |r AS (
        |  SELECT token, n_a, n_b, round(jsx, 6) AS js_contrib,
        |    CAST(row_number() OVER (ORDER BY round(jsx, 6) DESC, token)
        |      AS INT) AS rank
        |  FROM s2)
        |SELECT r.rank, r.token, r.n_a, r.n_b, r.js_contrib,
        |  t.kl_ab, t.kl_ba, t.js
        |FROM r CROSS JOIN t WHERE r.rank <= 20 ORDER BY r.rank""".stripMargin)
  )
}
