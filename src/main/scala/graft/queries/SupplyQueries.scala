package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Inventory, Quantiles, Reconcile}
import graft.sources.Tables

/** Round-9 tranche — supply-chain and graph-community operators:
  * the Lindley clamped running balance (the window-expressible form
  * of the sequential inventory recursion), synchronous label-
  * propagation communities over the co-purchase graph, the TPC-H
  * Q21/Q22 decorrelation shapes adapted to this schema (sole-late
  * supplier blame; dormant high-balance accounts with an
  * integer-exact scalar threshold), and the MERGEABLE price-histogram
  * quantile state (the quantile analog of the q234 HLL rollup). All
  * FULL hash oracles: q245's oracle is the textbook correlated
  * EXISTS/NOT-EXISTS statement itself, so the hash match proves the
  * Spark-side decorrelation, not a shared rewrite. */
object SupplyQueries {

  /** Per-part clamped stock balance over lineitem movements
    * ([[Inventory.clampedBalance]]): returns ('R' flag) restock
    * +quantity, everything else ships −quantity, clamped at zero —
    * you cannot ship what you don't have; the clamp's overflow is the
    * unfulfilled `lost_qty`. The per-part summary aggregate reuses
    * the window's hashpartitioning(part) exchange. `final_balance`
    * comes from `max_by` over the same total order the windows use;
    * the oracle computes it as net − min(0, min prefix) — the Lindley
    * closed form — so the hash match pins the identity itself.
    * Integer quantities → every column engine-exact. */
  def q243ClampedBalance(s: SparkSession, d: String): DataFrame = {
    val m = Tables.lineitem(s, d)
      .select(col("l_partkey").as("part"),
        when(col("l_returnflag") === "R", col("l_quantity"))
          .otherwise(-col("l_quantity")).cast("long").as("delta"),
        col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
    Inventory.clampedBalance(m, "part", "delta", ord)
      .groupBy("part")
      .agg(count(lit(1)).as("n_moves"),
        sum("delta").as("net_qty"),
        max_by(col("balance"),
          struct(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")))
          .as("final_balance"),
        max("balance").as("peak_balance"),
        sum(when(col("balance") === 0 && col("delta") < 0, 1L)
          .otherwise(0L)).as("n_stockouts"),
        sum("shortfall").as("lost_qty"))
      .orderBy("part")
  }

  /** Co-purchase communities by synchronous label propagation
    * ([[Graph.labelPropagation]], 4 rounds, min-label tie-break).
    * Edges are support-≥2 within-basket item pairs built by the q172
    * discipline — ONE collect_set aggregate, row-local pair
    * explosion, baskets > 10 items excluded — so the graph build
    * never leaves Σ|basket|² territory. Output is the full (item →
    * community) assignment; the oracle unrolls all 4 synchronous
    * rounds as CTEs over the same edge list. */
  def q244Communities(s: SparkSession, d: String): DataFrame = {
    val bitems = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("bk"), col("l_partkey").as("item"))
      .groupBy("bk")
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .where(size(col("items")) <= 10)
    val edges = bitems.select(explode(expr(
        """flatten(transform(items, (x, i) ->
          |  transform(slice(items, i + 2, size(items)), y -> struct(x AS a, y AS b))))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= 2)
    Graph.labelPropagation(edges, "a", "b", iters = 4)
      .select(col("id").as("item"), col("label").as("community"))
      .orderBy("item")
  }

  /** Sole-late supplier blame — the TPC-H Q21 shape on this schema
    * (late = shipped more than 90 days after the order date): orders
    * with at least two suppliers where EXACTLY ONE shipped late,
    * counted against that supplier. Spark-first decorrelation: the
    * two correlated EXISTS subqueries collapse into ONE per-order
    * aggregate (distinct-supplier count, distinct-late-supplier
    * count, and the blamed key via max over the single late
    * supplier) — one shuffle on orderkey instead of three correlated
    * scans. The oracle is the textbook EXISTS / NOT-EXISTS
    * formulation, so the hash match proves the decorrelation. */
  def q245SoleLateSupplier(s: SparkSession, d: String): DataFrame = {
    val j = Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .withColumn("late", col("l_shipdate") > date_add(col("o_orderdate"), 90))
    // r15: the twin countDistincts planned as a ×3 Expand of the joined
    // row frame (plans/r15/q245_sole_late_before.txt) — every joined
    // row tripled before the first partial aggregate. The two-level
    // rewrite aggregates to the (order, supplier) grain first (plain
    // map-side-combinable aggregates, no Expand), then counts per
    // order: n_supp = rows at that grain, n_late = suppliers with ≥1
    // late line, blame = max late supplier — value-identical
    // (countDistinct ignores the null branch of when(), = sum over the
    // per-supplier any-late flag; hash oracle re-verified).
    // null suppliers are excluded BEFORE the grain aggregate (r16,
    // ADVICE): count(lit(1)) at the grain would count a NULL-supplier
    // group the original countDistinct(l_suppkey) ignored — latent on
    // TPC-H-shaped data (l_suppkey non-null), filtered for exactness
    val perSupp = j.where(col("l_suppkey").isNotNull)
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("late"), 1).otherwise(0)).as("__late_i"))
    val perOrder = perSupp.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"),
        sum(col("__late_i")).cast("long").as("n_late"),
        max(when(col("__late_i") === 1, col("l_suppkey"))).as("blame"))
      .where(col("n_supp") >= 2 && col("n_late") === 1)
    // supplier scales with SF (the q227 lesson) — no broadcast hint,
    // AQE picks the strategy
    perOrder.join(Tables.supplier(s, d), col("blame") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  /** Dormant high-balance accounts — the TPC-H Q22 shape: customers
    * in three segments whose balance exceeds the segment-population
    * mean AND who have never ordered. The scalar subquery becomes a
    * broadcast 1-row frame; the threshold is computed in INTEGER
    * CENTS with floor division (`sum div n`), so the boundary
    * comparison can never flip on a float ulp across engines — the
    * q235 ×5 trick generalized to a mean threshold. The NOT EXISTS
    * is a left-anti join against the distinct RECENT-order customer
    * set (no order since 2001-01-01 = dormant through the data's
    * final year) — the date filter is pushed to the orders scan
    * before the distinct, so the anti-join's build side shrinks with
    * the dormancy window. */
  def q246DormantAccounts(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING", "MACHINERY"))
      .withColumn("cents", round(col("c_acctbal") * 100).cast("long"))
    val thr = base.filter(col("cents") > 0)
      .agg(expr("sum(cents) div count(*)").as("thr_cents"))
    base.crossJoin(broadcast(thr))
      .where(col("cents") > col("thr_cents"))
      .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
          .select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum("cents") / 100.0, 2).as("total_balance"))
      .orderBy("segment")
  }

  /** Quarterly price quantiles FROM MERGED MONTHLY HISTOGRAM STATE
    * ([[Quantiles.histogramState]] / [[Quantiles.quantilesFromHistogram]])
    * — the quantile analog of the q234 HLL rollup: per-month 256-bin
    * counts are the only state; a quarter's p50/p90/p99 come from
    * summing its months' bins, never re-reading the rows. Bin rule,
    * ranks, and bin edges are all BIGINT arithmetic, so the sketch
    * state AND the answers are engine-exact. The data is touched by
    * exactly two scans (bounds + state build); everything after runs
    * on ≤ months·256 state rows. */
  def q247PriceQuantileRollup(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
        date_format(col("l_shipdate"), "yyyy-MM").as("month"))
    val monthly = Quantiles.histogramState(li, "cents", Seq("month"), bins = 256)
    val quarterly = monthly
      .withColumn("quarter", concat(substring(col("month"), 1, 4), lit("-Q"),
        expr("CAST((CAST(substring(month, 6, 2) AS INT) + 2) DIV 3 AS STRING)")))
      .groupBy("quarter", "bin")
      .agg(sum("cnt").as("cnt"), first("lo").as("lo"), first("hi").as("hi"))
    Quantiles.quantilesFromHistogram(quarterly, Seq("quarter"),
        percents = Seq(50, 90, 99), bins = 256)
      .orderBy("quarter")
  }

  /** Three-source reconciliation census ([[Reconcile.fieldCensus]])
    * over three deterministically-derived "systems" of the orders
    * entity — each system drops a different residue class of keys,
    * one perturbs the amount by a cent on a fifth of rows, one
    * lowercases the status on a third, one nulls the priority on a
    * ninth: every census cell (all-present / agree / conflict /
    * single-source) is exercised by construction. The amount is
    * compared in INTEGER CENTS — reconciliation on raw double
    * rendering would diverge between engines, the same reason q246
    * thresholds in cents. Three full-outer joins on the unique key,
    * row-local verdicts, one aggregate. */
  def q248ReconcileCensus(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    val sysA = o.filter(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("cents"),
        col("o_orderpriority"))
    val sysB = o.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("cents") + when(col("o_orderkey") % 5 === 0, 1L).otherwise(0L)).as("cents"),
        when(col("o_orderkey") % 9 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("o_orderpriority"))
    val sysC = o.filter(col("o_orderkey") % 13 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lower(col("o_orderstatus")))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        col("cents"), col("o_orderpriority"))
    Reconcile.fieldCensus(sysA, sysB, sysC, "o_orderkey",
        Seq("o_orderstatus", "cents", "o_orderpriority"))
      .orderBy("field")
  }

  /** Large-order customers — the TPC-H Q18 shape: orders whose total
    * line quantity exceeds a threshold, joined back to the customer.
    * The HAVING-subquery becomes one per-order aggregate (map-side
    * combined) whose survivors — a tiny fraction — drive the joins,
    * so the customer join sees only qualifying orders. Quantities are
    * integer-valued doubles summed as BIGINT: the threshold can never
    * flip on a float ulp. */
  def q249LargeOrders(s: SparkSession, d: String): DataFrame = {
    val qty = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .where(col("total_qty") > 250)
    qty.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_totalprice"),
        col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderdate"), col("o_orderkey"))
      .limit(100)
  }

  /** Cross-nation trade volume — the TPC-H Q7 shape on this schema:
    * revenue shipped between two customer/supplier nation pairs by
    * year, in EXACT CENTS (revenue = extendedprice·(1−discount);
    * discount is a 2-decimal double, so price_cents·(100−disc_pct)
    * is integer-exact — divide once at the end).
    *
    * Plan discipline (r9 verdict item 1, the textbook Q7 shape): the
    * nation-pair selectivity must reach the FACT joins, not survive
    * only as a residual on the last broadcast join. Each nation role
    * is pre-filtered to its 2 trade nations and joined to
    * supplier/customer FIRST, so both dims shrink by ~12.5× (2/25 of
    * nations) before lineitem/orders ever see them — at 100 TB the
    * supplier and customer shuffle-join probe sides carry only the
    * surviving keys. The asymmetric pair constraint
    * (supp,cust) ∈ {(3,7),(7,3)} stays as the residual on the final
    * join, exactly as in TPC-H Q7. supplier/customer scale with SF
    * and are left to AQE, the q227/q232 discipline. */
  def q250TradeVolume(s: SparkSession, d: String): DataFrame = {
    val pairs = Seq(("NATION_3", "NATION_7"), ("NATION_7", "NATION_3"))
    val tradeNations = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val n1 = Tables.nation(s, d)
      .where(col("n_name").isin(tradeNations: _*))
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .where(col("n_name").isin(tradeNations: _*))
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    // Shrink the two SF-scale dims BEFORE they meet the facts.
    val supp = Tables.supplier(s, d)
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .select(col("s_suppkey"), col("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .select(col("c_custkey"), col("cust_nation"))
    Tables.lineitem(s, d)
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where(concat(col("supp_nation"), lit("|"), col("cust_nation"))
        .isin(pairs.map(p => s"${p._1}|${p._2}"): _*))
      .withColumn("rev_units",
        round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum("rev_units") / 10000.0, 2).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Unrolled synchronous LPA rounds for the q244 oracle. */
  private def lpaOracleSql(iters: Int): String = {
    val base =
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
        |sz AS (SELECT bk, count(*) AS n FROM bi GROUP BY 1),
        |kept AS (SELECT bi.bk, bi.item FROM bi JOIN sz ON bi.bk = sz.bk WHERE sz.n <= 10),
        |half AS (
        |  SELECT x.item AS a, y.item AS b2 FROM kept x
        |  JOIN kept y ON x.bk = y.bk AND x.item < y.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT a AS src, b2 AS dst FROM half
        |      UNION ALL SELECT b2, a FROM half),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM e)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.src, l.label AS nl, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.dst = l.id GROUP BY 1, 2),
         |l$i AS (
         |  SELECT src AS id, nl AS label FROM (
         |    SELECT src, nl, row_number() OVER (
         |      PARTITION BY src ORDER BY c DESC, nl) AS rk FROM c$i)
         |  WHERE rk = 1)""".stripMargin
    }
    s"""$base,
       |${rounds.mkString(",\n")}
       |SELECT id AS item, label AS community FROM l$iters ORDER BY item""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q249_large_orders", q249LargeOrders,
      """WITH q AS (
        |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |    AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS BIGINT)) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice, 2) AS o_totalprice, total_qty
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100""".stripMargin),
    // exact-cents conditional revenue: price_cents · (100 − disc_pct)
    // is integer; ONE division at the end
    QuerySpec("q250_trade_volume", q250TradeVolume,
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS INT) AS l_year,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2)
        |    AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    // the three derived systems, the full-outer alignment, and the
    // pairwise-agreement census restated field by field
    QuerySpec("q248_reconcile_census", q248ReconcileCensus,
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderpriority FROM orders),
        |sa AS (
        |  SELECT o_orderkey AS k, trim(o_orderstatus) AS st,
        |    trim(CAST(cents AS VARCHAR)) AS ce, trim(o_orderpriority) AS pr
        |  FROM o WHERE o_orderkey % 11 <> 0),
        |sb AS (
        |  SELECT o_orderkey AS k, trim(o_orderstatus) AS st,
        |    trim(CAST(cents + CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END
        |      AS VARCHAR)) AS ce,
        |    CASE WHEN o_orderkey % 9 = 0 THEN NULL
        |         ELSE trim(o_orderpriority) END AS pr
        |  FROM o WHERE o_orderkey % 7 <> 0),
        |sc0 AS (
        |  SELECT o_orderkey AS k,
        |    trim(CASE WHEN o_orderkey % 3 = 0 THEN lower(o_orderstatus)
        |         ELSE o_orderstatus END) AS st,
        |    trim(CAST(cents AS VARCHAR)) AS ce, trim(o_orderpriority) AS pr
        |  FROM o WHERE o_orderkey % 13 <> 0),
        |al AS (
        |  SELECT sa.st AS st_a, sb.st AS st_b, sc0.st AS st_c,
        |    sa.ce AS ce_a, sb.ce AS ce_b, sc0.ce AS ce_c,
        |    sa.pr AS pr_a, sb.pr AS pr_b, sc0.pr AS pr_c
        |  FROM sa FULL JOIN sb ON sa.k = sb.k
        |  FULL JOIN sc0 ON coalesce(sa.k, sb.k) = sc0.k),
        |v AS (
        |  SELECT 'o_orderstatus' AS field, st_a AS va, st_b AS vb, st_c AS vc FROM al
        |  UNION ALL SELECT 'cents', ce_a, ce_b, ce_c FROM al
        |  UNION ALL SELECT 'o_orderpriority', pr_a, pr_b, pr_c FROM al),
        |scores AS (
        |  SELECT field,
        |    (CASE WHEN va IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN vb IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN vc IS NOT NULL THEN 1 ELSE 0 END) AS present,
        |    (CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va = vb THEN 1 ELSE 0 END
        |     + CASE WHEN va IS NOT NULL AND vc IS NOT NULL AND va = vc THEN 1 ELSE 0 END
        |     + CASE WHEN vb IS NOT NULL AND vc IS NOT NULL AND vb = vc THEN 1 ELSE 0 END)
        |      AS agree_pairs
        |  FROM v)
        |SELECT field, CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(CASE WHEN present = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_all_present,
        |  CAST(sum(CASE WHEN present >= 2
        |    AND agree_pairs = (present * (present - 1)) // 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_agree,
        |  CAST(sum(CASE WHEN present >= 2
        |    AND agree_pairs < (present * (present - 1)) // 2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_conflict,
        |  CAST(sum(CASE WHEN present = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single
        |FROM scores GROUP BY field ORDER BY field""".stripMargin),
    // the Lindley closed form restated: prefix/running-min windows;
    // final_balance = net − min(0, min prefix) — the identity the
    // Spark side reaches via max_by over the same total order
    QuerySpec("q243_clamped_balance", q243ClampedBalance,
      """WITH m AS (
        |  SELECT l_partkey AS part,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
        |         ELSE -CAST(l_quantity AS BIGINT) END AS delta,
        |    l_shipdate, l_orderkey, l_linenumber FROM lineitem),
        |w1 AS (
        |  SELECT part, delta,
        |    sum(delta) OVER (PARTITION BY part
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    row_number() OVER (PARTITION BY part
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber) AS ord
        |  FROM m),
        |w2 AS (
        |  SELECT part, delta, prefix,
        |    least(0, coalesce(min(prefix) OVER (PARTITION BY part
        |      ORDER BY ord
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS floor_prev
        |  FROM w1),
        |b AS (
        |  SELECT part, delta, prefix,
        |    greatest(0, prefix - floor_prev) AS balance,
        |    greatest(0, -(prefix - floor_prev)) AS shortfall
        |  FROM w2)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_moves,
        |  CAST(sum(delta) AS BIGINT) AS net_qty,
        |  CAST(sum(delta) - least(0, min(prefix)) AS BIGINT) AS final_balance,
        |  CAST(max(balance) AS BIGINT) AS peak_balance,
        |  CAST(sum(CASE WHEN balance = 0 AND delta < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_stockouts,
        |  CAST(sum(shortfall) AS BIGINT) AS lost_qty
        |FROM b GROUP BY part ORDER BY part""".stripMargin),
    QuerySpec("q244_communities", q244Communities, lpaOracleSql(4)),
    // the textbook correlated statement — hash match proves the
    // one-aggregate decorrelation
    QuerySpec("q245_sole_late", q245SoleLateSupplier,
      """SELECT s_name, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin),
    QuerySpec("q246_dormant_accounts", q246DormantAccounts,
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer
        |  WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
        |t AS (SELECT sum(cents) // count(*) AS thr FROM c WHERE cents > 0)
        |SELECT c_mktsegment AS segment,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  round(sum(cents) / 100.0, 2) AS total_balance
        |FROM c, t
        |WHERE cents > thr
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    // the state math restated bin by bin: same BIGINT bin rule, rank
    // rule, and edge reconstruction
    QuerySpec("q247_quantile_rollup", q247PriceQuantileRollup,
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    strftime(l_shipdate, '%Y-%m') AS month FROM lineitem),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM v),
        |st AS (
        |  SELECT month, ((cents - lo) * 256) // (hi - lo + 1) AS bin,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM v, bounds GROUP BY 1, 2),
        |qs AS (
        |  SELECT substr(month, 1, 4) || '-Q' ||
        |    CAST((CAST(substr(month, 6, 2) AS INT) + 2) // 3 AS VARCHAR) AS quarter,
        |    bin, sum(cnt) AS cnt
        |  FROM st GROUP BY 1, 2),
        |cum AS (
        |  SELECT quarter, bin, cnt,
        |    sum(cnt) OVER (PARTITION BY quarter ORDER BY bin) AS c,
        |    sum(cnt) OVER (PARTITION BY quarter) AS n
        |  FROM qs)
        |SELECT quarter, CAST(min(n) AS BIGINT) AS n,
        |  min(CASE WHEN c >= (50 * n + 99) // 100 THEN bin END) AS p50_bin,
        |  min(CASE WHEN c >= (50 * n + 99) // 100
        |    THEN lo + ((bin + 1) * (hi - lo + 1)) // 256 - 1 END) AS p50_hi_cents,
        |  min(CASE WHEN c >= (90 * n + 99) // 100 THEN bin END) AS p90_bin,
        |  min(CASE WHEN c >= (90 * n + 99) // 100
        |    THEN lo + ((bin + 1) * (hi - lo + 1)) // 256 - 1 END) AS p90_hi_cents,
        |  min(CASE WHEN c >= (99 * n + 99) // 100 THEN bin END) AS p99_bin,
        |  min(CASE WHEN c >= (99 * n + 99) // 100
        |    THEN lo + ((bin + 1) * (hi - lo + 1)) // 256 - 1 END) AS p99_hi_cents
        |FROM cum, bounds GROUP BY quarter ORDER BY quarter""".stripMargin)
  )
}
