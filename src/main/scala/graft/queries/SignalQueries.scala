package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Cooccur, Drift, Eval, Geo, Graph, NaiveBayes, Rolling}
import graft.sources.Tables

/** Round-7 fourth tranche — supervised/signal operators: the
  * generative classifier (Naive Bayes), retrieval metrics (nDCG@k),
  * the grid-bucketed spatial nearest join, trailing-window OLS,
  * bounded BFS over the co-purchase graph, audience overlap, and
  * corpus keyness. Every query carries a full DuckDB hash oracle; the
  * cross-engine float discipline per operator is documented at the
  * operator (integer-exact window sums for rolling OLS, planar-IEEE
  * argmin for geo, rounded-rank argmax for NB, explicit products for
  * keyness χ²). */
object SignalQueries {

  /** Multinomial NB language classifier ([[NaiveBayes.confusion]]):
    * train on md5-bucket < 80, score the rest, confusion matrix +
    * accuracy. A chance-level fixture by construction (the label is
    * independent of the shared vocabulary — the q180 discipline): the
    * hash oracle proves the whole train/smooth/score/argmax mechanism,
    * not fixture separability. */
  def q184NaiveBayes(s: SparkSession, d: String): DataFrame =
    NaiveBayes.confusion(Tables.documents(s, d))

  /** Top-10 ranking metrics per language ([[Eval.rankingMetrics]]):
    * docs ranked by length, graded relevance derived from the source
    * number (mod 4) — nDCG@10, precision@10, MRR@10 per group. */
  def q185RankingMetrics(s: SparkSession, d: String): DataFrame =
    Eval.rankingMetrics(
      Tables.documents(s, d)
        .withColumn("rel", substring(col("source"), 4, 10).cast("int") % 4),
      groupCols = Seq("lang"), scoreCol = "n_chars", relCol = "rel",
      idCol = "doc_id", k = 10)

  /** Nearest supplier within 20° for every customer
    * ([[Geo.nearestWithinRadius]]), on deterministic synthetic
    * coordinates derived from the keys (the tables carry no geo
    * columns; the derivation is identical integer-mod arithmetic in
    * both engines, so the fixture is exact). The oracle is the
    * brute-force |C|×|S| cross join — the grid join must reproduce it
    * row-for-row without ever materializing the product. */
  def q186GeoNearest(s: SparkSession, d: String): DataFrame = {
    def coords(df: DataFrame, key: String) = df.select(col(key),
      ((col(key) * 7919 % 18000) / 100.0 - 90.0).as("lat"),
      ((col(key) * 104729 % 36000) / 100.0 - 180.0).as("lon"))
    Geo.nearestWithinRadius(
      coords(Tables.customer(s, d), "c_custkey"),
      coords(Tables.supplier(s, d), "s_suppkey"),
      "c_custkey", "s_suppkey", radiusDeg = 20.0)
  }

  /** Trailing-14-day OLS trend of daily event revenue per type
    * ([[Rolling.rollingOls]]): integer cents + epoch-day x keep every
    * window sum exact, so the slope is bit-identical across engines
    * and partitionings. */
  def q187RollingOls(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(round(sum("value") * 100, 0).cast("long").as("cents"))
    Rolling.rollingOls(daily, Seq("event_type"), "day", "cents", windowDays = 14)
  }

  /** Min-hop distances ≤ 4 from the seed parts (key % 100 = 0) over
    * the support-≥2 co-purchase graph ([[Graph.kHopDistances]]): the
    * support threshold is the sparsifier (3.4k edges / 2k nodes at
    * sf0.01 — real multi-hop structure, not a hairball); the oracle is
    * the unrolled level-union restating the relaxation rounds. */
  def q188KHop(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
      .agg(count(lit(1)).as("sup"))
      .where(col("sup") >= 2)
      .select("pa", "pb")
    Graph.kHopDistances(edges, Tables.part(s, d).where(col("p_partkey") % 100 === 0),
      "pa", "pb", "p_partkey", maxHops = 4)
  }

  /** Audience overlap between event-type segments
    * ([[Cooccur.audienceOverlap]]): distinct-user intersection,
    * Jaccard, lift for every segment pair. */
  def q189AudienceOverlap(s: SparkSession, d: String): DataFrame =
    Cooccur.audienceOverlap(Tables.events(s, d), "user_id", "event_type")

  /** Keyness ([[Drift.keyness]]): top-25 terms distinguishing the
    * early-source sub-corpus from the late one by 2×2 χ², with
    * smoothed log-odds direction — the per-term attribution beside
    * q183's corpus-level divergence. */
  def q190Keyness(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Drift.keyness(
      docs.where(length(col("source")) <= 4),
      docs.where(length(col("source")) > 4), topK = 25)
  }

  val specs: Seq[QuerySpec] = Seq(
    // scores rank on round(score, 4): ln inputs are exact integer
    // ratios, so cross-engine drift is ~1e-12 abs — far inside the
    // rounding, and class-score gaps are O(1)
    QuerySpec("q184_naive_bayes", q184NaiveBayes,
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        |  FROM documents),
        |bk AS (
        |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
        |    % 100 AS bucket
        |  FROM tok),
        |train AS (SELECT * FROM bk WHERE bucket < 80),
        |test AS (SELECT doc_id, lang AS actual, term FROM bk WHERE bucket >= 80),
        |v AS (SELECT count(DISTINCT term) AS vocab FROM train),
        |cs AS (
        |  SELECT lang AS cand, count(DISTINCT doc_id) AS c_docs,
        |    count(*) AS c_toks
        |  FROM train GROUP BY 1),
        |nt AS (SELECT sum(c_docs) AS n_train FROM cs),
        |tc AS (SELECT lang AS cand, term, count(*) AS cnt FROM train GROUP BY 1, 2),
        |tt AS (SELECT doc_id, actual, term, count(*) AS tf FROM test GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT tt.doc_id, tt.actual, cs.cand,
        |    ln(cs.c_docs / (nt.n_train * 1.0)) +
        |      sum(tt.tf * (ln(coalesce(tc.cnt, 0) + 1.0)
        |        - ln((cs.c_toks + v.vocab) * 1.0))) AS score
        |  FROM tt CROSS JOIN cs CROSS JOIN nt CROSS JOIN v
        |  LEFT JOIN tc ON tc.cand = cs.cand AND tc.term = tt.term
        |  GROUP BY tt.doc_id, tt.actual, cs.cand, cs.c_docs, cs.c_toks,
        |    nt.n_train, v.vocab),
        |pred AS (
        |  SELECT doc_id, actual, cand AS predicted,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY round(score, 4) DESC, cand) AS rn
        |  FROM sc),
        |p1 AS (SELECT * FROM pred WHERE rn = 1),
        |acc AS (
        |  SELECT round(sum(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
        |    / (count(*) * 1.0), 6) AS accuracy
        |  FROM p1)
        |SELECT actual, predicted, count(*) AS n_docs, acc.accuracy
        |FROM p1 CROSS JOIN acc
        |GROUP BY 1, 2, acc.accuracy ORDER BY 1, 2""".stripMargin),
    QuerySpec("q185_ranking_metrics", q185RankingMetrics,
      """WITH d AS (
        |  SELECT lang, doc_id, n_chars * 1.0 AS s,
        |    CAST(substr(source, 4)::INT % 4 AS BIGINT) AS rel
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS rk,
        |    row_number() OVER (PARTITION BY lang ORDER BY rel DESC, doc_id) AS ri
        |  FROM d),
        |act AS (
        |  SELECT lang, count(*) AS n_ranked,
        |    sum(rel / log2(rk + 1)) AS dcg,
        |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS nrel,
        |    max(CASE WHEN rel > 0 THEN 1.0 / rk END) AS bestinv
        |  FROM r WHERE rk <= 10 GROUP BY 1),
        |idl AS (
        |  SELECT lang, sum(rel / log2(ri + 1)) AS idcg
        |  FROM r WHERE ri <= 10 GROUP BY 1)
        |SELECT act.lang, act.n_ranked,
        |  CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) END AS ndcg,
        |  round(nrel / 10.0, 6) AS p_at_k,
        |  round(coalesce(bestinv, 0.0), 6) AS mrr
        |FROM act JOIN idl USING (lang) ORDER BY act.lang""".stripMargin),
    // brute-force cross join: the answer the grid join must equal.
    // d2 is the same literal IEEE expression both sides — exact argmin
    QuerySpec("q186_geo_nearest", q186GeoNearest,
      """WITH c AS (
        |  SELECT c_custkey, (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
        |    (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey, (s_suppkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
        |    (s_suppkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        |  FROM supplier),
        |cand AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |    c.lat AS l_lat, c.lon AS l_lon, s.lat AS r_lat, s.lon AS r_lon,
        |    (c.lat - s.lat) * (c.lat - s.lat)
        |      + (c.lon - s.lon) * (c.lon - s.lon) AS d2
        |  FROM c CROSS JOIN s),
        |f AS (SELECT * FROM cand WHERE d2 <= 400.0),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY d2, s_suppkey) AS rn
        |  FROM f)
        |SELECT c_custkey, s_suppkey, round(sqrt(d2), 6) AS dist_deg,
        |  round(2 * 6371.0088 * asin(sqrt(
        |    pow(sin((r_lat - l_lat) * pi() / 180.0 / 2), 2)
        |    + cos(l_lat * pi() / 180.0) * cos(r_lat * pi() / 180.0)
        |      * pow(sin((r_lon - l_lon) * pi() / 180.0 / 2), 2))), 2) AS dist_km
        |FROM r WHERE rn = 1 ORDER BY c_custkey""".stripMargin),
    // every frame sum is exact integer arithmetic in double (cents ×
    // epoch days, all < 2^53), so slope/intercept/r2 are bit-identical
    // regardless of each engine's frame-sum order
    QuerySpec("q187_rolling_ols", q187RollingOls,
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(round(sum(value) * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, day,
        |    date_diff('day', DATE '1970-01-01', day) * 1.0 AS x,
        |    cents * 1.0 AS y
        |  FROM daily),
        |s AS (
        |  SELECT event_type, day,
        |    count(*) OVER w * 1.0 AS n, sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
        |    sum(x * y) OVER w AS sxy
        |  FROM b WINDOW w AS (PARTITION BY event_type ORDER BY x
        |    RANGE BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT *, n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy,
        |    n * sxy - sx * sy AS cov
        |  FROM s),
        |k AS (
        |  SELECT *, CASE WHEN n >= 2 AND dx <> 0 THEN cov / dx END AS slope0
        |  FROM m)
        |SELECT event_type, day, CAST(n AS BIGINT) AS n_days,
        |  round(slope0, 6) AS slope,
        |  round((sy - slope0 * sx) / n, 6) AS intercept,
        |  round(CASE WHEN n >= 2 AND dx <> 0 AND dy <> 0
        |    THEN cov * cov / (dx * dy) END, 6) AS r2
        |FROM k ORDER BY event_type, day""".stripMargin),
    // unrolled BFS level-union: walks of length i reach every node at
    // distance i, min() over levels = true distance for d ≤ 4
    QuerySpec("q188_khop", q188KHop,
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS pa, b.pk AS pb
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM e0
        |  UNION SELECT pb, pa FROM e0),
        |d0 AS (SELECT p_partkey AS node, 0 AS hops FROM part
        |  WHERE p_partkey % 100 = 0),
        |d1 AS (SELECT DISTINCT e.dst AS node, 1 AS hops
        |  FROM d0 JOIN e ON e.src = d0.node),
        |d2 AS (SELECT DISTINCT e.dst AS node, 2 AS hops
        |  FROM d1 JOIN e ON e.src = d1.node),
        |d3 AS (SELECT DISTINCT e.dst AS node, 3 AS hops
        |  FROM d2 JOIN e ON e.src = d2.node),
        |d4 AS (SELECT DISTINCT e.dst AS node, 4 AS hops
        |  FROM d3 JOIN e ON e.src = d3.node),
        |lv AS (SELECT * FROM d0 UNION ALL SELECT * FROM d1
        |  UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3
        |  UNION ALL SELECT * FROM d4)
        |SELECT node, min(hops) AS hops FROM lv GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q189_audience_overlap", q189AudienceOverlap,
      """WITH es AS (
        |  SELECT DISTINCT user_id AS ent, event_type AS seg FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |sc AS (SELECT seg, count(DISTINCT ent) AS n FROM es GROUP BY 1),
        |tot AS (SELECT count(DISTINCT ent) AS n_total FROM es),
        |p AS (
        |  SELECT x.seg AS seg_a, y.seg AS seg_b, count(*) AS n_ab
        |  FROM es x JOIN es y ON x.ent = y.ent AND x.seg < y.seg
        |  GROUP BY 1, 2)
        |SELECT seg_a, seg_b, a.n AS n_a, b.n AS n_b, n_ab,
        |  round(n_ab * 1.0 / (a.n + b.n - n_ab), 6) AS jaccard,
        |  round(n_ab * 1.0 * tot.n_total / (a.n * 1.0 * b.n), 6) AS lift
        |FROM p JOIN sc a ON a.seg = p.seg_a JOIN sc b ON b.seg = p.seg_b
        |CROSS JOIN tot ORDER BY 1, 2""".stripMargin),
    // χ² with the determinant squared as an explicit product (the
    // operator's pow-free discipline); rank on round(chi2, 4)
    QuerySpec("q190_keyness", q190Keyness,
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
        |t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
        |cells AS (
        |  SELECT j.token, j.n_a, j.n_b,
        |    j.n_a * 1.0 AS aa, j.n_b * 1.0 AS bb,
        |    (t.ta - j.n_a) * 1.0 AS cc, (t.tb - j.n_b) * 1.0 AS dd,
        |    (t.ta + t.tb) * 1.0 AS nn, t.ta, t.tb
        |  FROM j CROSS JOIN t),
        |s AS (
        |  SELECT token, n_a, n_b,
        |    round(nn * ((aa * dd - bb * cc) * (aa * dd - bb * cc))
        |      / ((aa + bb) * (cc + dd) * (ta * 1.0) * (tb * 1.0)), 4) AS chi2,
        |    round(ln((aa + 0.5) * (dd + 0.5) / ((bb + 0.5) * (cc + 0.5))), 6)
        |      AS log_odds
        |  FROM cells
        |  WHERE ta > 0 AND tb > 0 AND cc + dd > 0),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY chi2 DESC, token) AS INT)
        |    AS rank
        |  FROM s)
        |SELECT rank, token, n_a, n_b, chi2, log_odds,
        |  CASE WHEN log_odds > 0 THEN 'A' ELSE 'B' END AS key_for
        |FROM r WHERE rank <= 25 ORDER BY rank""".stripMargin)
  )
}
