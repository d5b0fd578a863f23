package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.plans.Pin

/** Round-10 tranche D: the remaining classic TPC-H plan shapes this
  * schema supports — returned-item top customers (Q10 → q267), promo
  * revenue share (Q14 → q268), important-parts HAVING-over-global-scalar
  * (Q11 → q269), min-cost supplier argmin decorrelation (Q2 → q270),
  * priority-bucket line census (Q12 → q273) — plus a lagged
  * cross-correlation scan (q271) and contrastive hard-negative mining
  * (q272). Every query carries a FULL DuckDB hash oracle.
  *
  * Money discipline (the q250/q232 rule): revenue terms are integer
  * units of 1e-4 dollars — round(price·100)·(100 − disc·100) — with
  * exactly one terminal division. */
object RevenueQueries {

  private def revUnits = round(col("l_extendedprice") * 100).cast("long") *
    (lit(100L) - round(col("l_discount") * 100).cast("long"))

  /** Returned-item revenue top-20 customers — the TPC-H Q10 shape:
    * 'R'-flag lines of orders placed in a 6-month window, revenue lost
    * per customer, nation attached after the aggregate. The returnflag
    * filter sits in the lineitem scan, the date window in the orders
    * scan; the fact join carries only (orderkey, rev_units); customer
    * and nation join AFTER the per-customer aggregate, so the wide
    * name columns never ride through the fact shuffle. Top-20 is a
    * TakeOrderedAndProject, never a global sort. */
  def q267ReturnedTopk(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= "1996-07-01" && col("o_orderdate") < "1997-01-01")
      .select(col("o_orderkey"), col("o_custkey"))
    val r = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      .withColumn("rev_units", revUnits)
      .select(col("l_orderkey"), col("rev_units"))
    r.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum("rev_units").as("units"), count(lit(1)).as("n_return_lines"))
      .join(Tables.customer(s, d), col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("nation"),
        round(col("units") / 10000.0, 2).as("returned_revenue"),
        col("n_return_lines"))
      .orderBy(col("returned_revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Monthly promo revenue share — the TPC-H Q14 shape: the
    * conditional-sum ratio (promo-part revenue over total revenue) per
    * ship month of one year. Both sums ride the SAME aggregate (one
    * pass); part contributes a single boolean and is left unhinted —
    * it scales with volume, so AQE picks broadcast at small SF and a
    * shuffle join past the threshold (the q227 rule). */
  def q268PromoShare(s: SparkSession, d: String): DataFrame = {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .withColumn("rev_units", revUnits)
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(sum(when(col("is_promo"), col("rev_units")).otherwise(0L)).as("promo_units"),
        sum("rev_units").as("total_units"),
        count(lit(1)).as("n_lines"))
      .select(col("month"),
        round(lit(100.0) * col("promo_units").cast("double") /
          col("total_units").cast("double"), 4).as("promo_share_pct"),
        round(col("total_units") / 10000.0, 2).as("revenue"),
        col("n_lines"))
      .orderBy("month")
  }

  /** Important parts by value share — the TPC-H Q11 shape: per-part
    * revenue from ONE nation's suppliers, kept when a part's value
    * exceeds 3× the average part value (Q11's HAVING > global-scalar
    * subquery; the multiple-of-average form is SF-free where Q11's
    * fixed fraction goes empty as the part count grows). The global
    * scalar rides a broadcast 1-row frame and the boundary is exact
    * in DECIMAL(38,0): units·n_parts > 3·global never flips on a
    * float ulp, and — unlike the plain BIGINT product this replaces
    * (r10 ADVICE) — never wraps. Both cross terms grow with scale
    * (units ~ SF·1e10, n_parts ~ SF·1e5), so the BIGINT form would
    * silently wrap past 2^63 around sf300 in Spark's non-ANSI
    * arithmetic while DuckDB raised an overflow error; the decimal
    * product is exact to 1e38 — ~sf1e9, unreachable. Top-100 output
    * is a TakeOrderedAndProject. */
  def q269ImportantParts(s: SparkSession, d: String): DataFrame = {
    val natSupp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_5")
        .select(col("n_nationkey"))), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(s, d)
      .join(natSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .withColumn("rev_units", revUnits)
      .groupBy("l_partkey")
      .agg(sum("rev_units").as("units"), count(lit(1)).as("n_lines"))
    val global = perPart.agg(sum("units").as("global_units"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(global))
      .filter(col("units").cast("decimal(38,0)") * col("n_parts") >
        lit(3L) * col("global_units").cast("decimal(38,0)"))
      .select(col("l_partkey").as("p_partkey"),
        round(col("units") / 10000.0, 2).as("value"),
        col("n_lines"),
        round(col("units").cast("double") / col("global_units").cast("double"), 6)
          .as("share"))
      .orderBy(col("value").desc, col("p_partkey"))
      .limit(100)
  }

  /** Min-cost supplier per part — the TPC-H Q2 shape (the correlated
    * `cost = (SELECT min(cost) ...)` subquery, decorrelated into one
    * per-part argmin joined back). The schema has no partsupp table,
    * so unit cost is a DETERMINISTIC synthetic attribute of each
    * observed (part, supplier) pair: 1 + md5("part:supp") mod 1e6
    * cents — both engines derive the identical cost table from
    * lineitem. The argmin is ONE aggregate — min(struct(cost, supp))
    * picks the cheapest supplier with ties to the lowest key, no
    * window, no join-back (tighter than Q2's textbook min-join);
    * part/supplier/nation names attach after the argmin. */
  def q270MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val cost = Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .withColumn("cost_units",
        expr("1 + pmod(cast(conv(substring(md5(concat(cast(l_partkey AS string), " +
          "':', cast(l_suppkey AS string))), 1, 15), 16, 10) AS bigint), 1000000)"))
    val best = cost.groupBy("l_partkey")
      .agg(min(struct(col("cost_units"), col("l_suppkey"))).as("b"))
      .select(col("l_partkey"), col("b.cost_units").as("cost_units"),
        col("b.l_suppkey").as("best_suppkey"))
    best
      .join(Tables.part(s, d).filter(col("p_size").between(30, 35))
        .select(col("p_partkey"), col("p_name"), col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, d), col("best_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_name").as("nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("best_suppkey").as("s_suppkey"), col("s_name"), col("nation"),
        round(col("cost_units") / 100.0, 2).as("min_cost"))
      .orderBy("p_partkey")
  }

  /** Lagged cross-correlation between two daily revenue series
    * (returned 'R' lines vs normal 'N' lines): Pearson r of
    * (R(t), N(t−k)) for k ∈ 0..7 — the lead/lag scan run before any
    * causal claim about two metrics. ONE full-data pass builds both
    * daily series in the same aggregate; the lag joins then operate on
    * the tiny day-level frame (checkpointed — thousands of rows
    * regardless of SF), so the 8 lags cost 8 broadcast joins of an
    * aggregate-sized frame, never 8 passes over the data. */
  def q271CcfLag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables.lineitem(s, d)
      .withColumn("day", to_date(col("l_shipdate")))
      .withColumn("rev_units", revUnits)
      .groupBy("day")
      .agg(sum(when(col("l_returnflag") === "R", col("rev_units")).otherwise(0L))
        .cast("double").as("r_rev"),
        sum(when(col("l_returnflag") === "N", col("rev_units")).otherwise(0L))
          .cast("double").as("n_rev"))
      .transform(Pin.eager)
    val lags = (0 to 7).toDF("lag")
    val shifted = daily.crossJoin(broadcast(lags))
      .select(col("lag"), expr("date_add(day, lag)").as("day"),
        col("n_rev").as("n_rev_lagged"))
    daily.join(shifted, Seq("day"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_days"),
        round(corr(col("r_rev"), col("n_rev_lagged")), 6).as("ccf"))
      .orderBy("lag")
  }

  /** Contrastive hard-negative mining: for every probe in a PINNED
    * training batch (every 20th id below 20480 → ≤1024 probes), the
    * top-5 most-similar vectors with a DIFFERENT label — exactly the
    * negatives that make contrastive losses work (Robinson 2021: hard
    * negatives carry the gradient signal; random negatives are
    * trivially separable). The batch bound is the scale contract:
    * cost is |batch| × corpus map-side cosines, linear in the corpus
    * only because |batch| is fixed — a batch taken as a corpus
    * FRACTION turns the mine quadratic (the r10 sf10 audit measured
    * the unpinned form at 226 s). Similarity is rounded to 6 BEFORE
    * ranking so the (sim, id) rank key is identical arithmetic in
    * both engines. */
  def q272HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") % 20 === 0 && col("vec_id") < 20480)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val scored = emb.crossJoin(broadcast(probes))
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("rank"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("sim"))
      .orderBy("q_id", "rank")
  }

  /** Line census by status and priority bucket — the TPC-H Q12 shape:
    * lines shipped in one year, counted per linestatus with the
    * urgent/non-urgent split as two conditional sums in ONE aggregate
    * (Q12's two CASE columns). Orders contributes only (orderkey,
    * priority); the date filter sits in the lineitem scan. */
  def q273StatusPriority(s: SparkSession, d: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01")
      .select(col("l_orderkey"), col("l_linestatus"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** Promotion-revenue delta — the TPC-H Q6 shape, the last of the 22
    * classic plan shapes to land (every other Qn already has an engine
    * counterpart — Q1→q01 … Q22→q246): ONE lineitem scan with the
    * date window and quantity bound in PushedFilters, a narrow
    * discount-band residual, and a single map-side-combinable global
    * aggregate — the canonical scan-dominated query whose 100 TB cost
    * IS the scan. The discount band compares exact integer
    * basis-points (round(l_discount·100) ∈ [5, 7]), never raw doubles
    * against 0.05/0.07 float literals (the classic Q6 trap: 2-dp
    * doubles are not exactly representable, so BETWEEN on the raw
    * column is a half-ulp lottery); revenue = Σ cents·disc_bp in
    * exact integer 1e-4-dollar units with one final division. */
  def q284RevenueDelta(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= "1996-01-01" && col("l_shipdate") < "1997-01-01" &&
        col("l_quantity") < 24)
      .withColumn("disc_c", round(col("l_discount") * 100).cast("long"))
      .filter(col("disc_c") >= 5 && col("disc_c") <= 7)
      .agg(
        sum(round(col("l_extendedprice") * 100).cast("long") * col("disc_c"))
          .as("units"),
        count(lit(1)).as("n_lines"))
      .select(round(col("units") / 10000.0, 2).as("revenue"), col("n_lines"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q284_revenue_delta", q284RevenueDelta,
      """WITH f AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |    AND l_quantity < 24)
        |SELECT round(sum(cents * disc_c) / 10000.0, 2) AS revenue,
        |  count(*) AS n_lines
        |FROM f WHERE disc_c BETWEEN 5 AND 7""".stripMargin),
    QuerySpec("q267_returned_topk", q267ReturnedTopk,
      """WITH r AS (
        |  SELECT l_orderkey,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |o AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderdate >= DATE '1996-07-01'
        |    AND o_orderdate < DATE '1997-01-01'),
        |agg AS (
        |  SELECT o_custkey, sum(rev_units) AS units,
        |    count(*) AS n_return_lines
        |  FROM r JOIN o ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT c_custkey, c_name, n_name AS nation,
        |  round(units / 10000.0, 2) AS returned_revenue, n_return_lines
        |FROM agg
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY returned_revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),
    QuerySpec("q268_promo_share", q268PromoShare,
      """WITH li AS (
        |  SELECT date_trunc('month', l_shipdate)::DATE AS month,
        |    (p_type = 'PROMO') AS is_promo,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) *
        |      (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_units
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= DATE '1996-01-01'
        |    AND l_shipdate < DATE '1997-01-01')
        |SELECT month,
        |  round(100.0 * CAST(sum(CASE WHEN is_promo THEN rev_units ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(rev_units) AS DOUBLE), 4) AS promo_share_pct,
        |  round(sum(rev_units) / 10000.0, 2) AS revenue,
        |  count(*) AS n_lines
        |FROM li GROUP BY 1 ORDER BY month""".stripMargin),
    QuerySpec("q269_important_parts", q269ImportantParts,
      """WITH natsupp AS (
        |  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_5'),
        |pp AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT))) AS units,
        |    count(*) AS n_lines
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM natsupp)
        |  GROUP BY 1),
        |g AS (SELECT sum(units) AS global_units, count(*) AS n_parts FROM pp)
        |SELECT l_partkey AS p_partkey,
        |  round(units / 10000.0, 2) AS value, n_lines,
        |  round(CAST(units AS DOUBLE) / CAST(g.global_units AS DOUBLE), 6) AS share
        |FROM pp CROSS JOIN g
        |WHERE CAST(units AS DECIMAL(38,0)) * g.n_parts
        |  > 3 * CAST(g.global_units AS DECIMAL(38,0))
        |ORDER BY value DESC, p_partkey
        |LIMIT 100""".stripMargin),
    QuerySpec("q270_min_cost_supplier", q270MinCostSupplier,
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |cost AS (
        |  SELECT l_partkey, l_suppkey,
        |    1 + ('0x' || substr(md5(l_partkey || ':' || l_suppkey), 1, 15))::BIGINT
        |      % 1000000 AS cost_units
        |  FROM pairs),
        |mn AS (
        |  SELECT l_partkey, min(cost_units) AS cost_units
        |  FROM cost GROUP BY 1),
        |best AS (
        |  SELECT c.l_partkey, c.cost_units, min(c.l_suppkey) AS best_suppkey
        |  FROM cost c JOIN mn ON c.l_partkey = mn.l_partkey
        |    AND c.cost_units = mn.cost_units
        |  GROUP BY 1, 2)
        |SELECT p_partkey, p_name, p_size,
        |  best_suppkey AS s_suppkey, s_name, n_name AS nation,
        |  round(cost_units / 100.0, 2) AS min_cost
        |FROM best
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON best_suppkey = supplier.s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_size BETWEEN 30 AND 35
        |ORDER BY p_partkey""".stripMargin),
    QuerySpec("q271_ccf_lag", q271CcfLag,
      """WITH daily AS (
        |  SELECT l_shipdate::DATE AS day,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN
        |      CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END)
        |      AS DOUBLE) AS r_rev,
        |    CAST(sum(CASE WHEN l_returnflag = 'N' THEN
        |      CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        (100 - CAST(round(l_discount * 100) AS BIGINT)) ELSE 0 END)
        |      AS DOUBLE) AS n_rev
        |  FROM lineitem GROUP BY 1),
        |lags(lag) AS (VALUES (0), (1), (2), (3), (4), (5), (6), (7)),
        |j AS (
        |  SELECT l.lag, a.r_rev AS x, b.n_rev AS y
        |  FROM lags l
        |  JOIN daily b ON TRUE
        |  JOIN daily a ON a.day = b.day + l.lag)
        |SELECT lag, count(*) AS n_days, round(corr(x, y), 6) AS ccf
        |FROM j GROUP BY 1 ORDER BY lag""".stripMargin),
    QuerySpec("q272_hard_negatives", q272HardNegatives,
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS q_emb,
        |    label AS q_label
        |  FROM embeddings WHERE vec_id % 20 = 0 AND vec_id < 20480),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, e.label,
        |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6)
        |      AS sim
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.label <> q.q_label)
        |SELECT q_id,
        |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
        |    AS INT) AS rank,
        |  vec_id AS neg_id, label AS neg_label, sim
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY q_id, rank""".stripMargin),
    QuerySpec("q273_status_priority", q273StatusPriority,
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= DATE '1996-01-01'
        |  AND l_shipdate < DATE '1997-01-01'
        |GROUP BY 1 ORDER BY l_linestatus""".stripMargin)
  )
}
