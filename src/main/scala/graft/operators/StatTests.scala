package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Pin

/** Exact rank-based hypothesis tests at corpus scale — the
  * nonparametric siblings of the OLS/t machinery (q14/q15) for
  * distributions the normal model doesn't fit (heavy-tailed values,
  * ordinal scores).
  *
  * The shared primitive is the VALUE-HISTOGRAM average rank: instead
  * of a row-level rank window (which Spark executes on a single
  * partition when unpartitioned — the exact scale-killer this file
  * must not have), ranks are derived from per-value counts:
  *
  *   avgrank(v) = (Σ_{v'<v} cnt(v')) + (cnt(v)+1)/2
  *
  * — one map-side-combinable groupBy to the distinct-value histogram,
  * then the cumulative count over it through [[Spine.prefixSums]]
  * (exact, and never a row-scale single-partition sort — see [[Spine]]
  * for the two-phase bucket discipline and its bound). Then cell-frame
  * arithmetic or an equi-join back on the value. Row-level data is
  * touched by exactly one aggregate (and one join where per-row ranks
  * are genuinely needed).
  *
  * Exactness: counts are integers, average ranks are halves — exact
  * in double; rank sums Σ cnt·avgrank stay below 2⁵³ for N into the
  * tens of millions, so every statistic is exact arithmetic until the
  * final divisions (the rolling-OLS discipline). Tie terms Σ(t³−t)
  * are exact for tie blocks to ~2M rows. */
object StatTests {

  /** Max histogram rows worth broadcasting in the rank-decoration
    * joins: 64k (v, avgrank) rows ≈ 1.5 MB framed — far under any
    * broadcast limit, and a histogram that small means the column has
    * a bounded domain, so the bound holds at every scale factor. */
  private val BroadcastHistMaxRows = 65536L

  /** (v, cnt, avgrank) per distinct value of `valueCol` (null rows
    * dropped), plus the scalars every rank test needs: n (total rows)
    * and tiesum = Σ(cnt³−cnt). */
  private def valueHist(df: DataFrame, valueCol: String): (DataFrame, DataFrame) = {
    val hist0 = df.select(col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val hist = Spine.prefixSums(hist0, Nil, col("v"), Seq("cnt"), inclusive = false)
      .withColumn("avgrank", col("cnt_prefix") + (col("cnt") + 1) / 2.0)
      .transform(Pin.lazily)
    val scalars = hist.agg(
      sum("cnt").cast("double").as("__n"),
      sum(col("cnt").cast("double") * col("cnt") * col("cnt") - col("cnt"))
        .as("__tiesum"))
    (hist, scalars)
  }

  /** One-vs-rest Mann–Whitney U per group level: each level's value
    * distribution against everything else pooled. Returns (group, n1,
    * n2, u, auc, z) — U from the rank-sum identity, AUC = U/(n1·n2)
    * (the probabilistic effect size, consistent with
    * [[Eval.aucByGroup]]), z from the tie-corrected normal
    * approximation WITHOUT continuity correction (documented choice,
    * mirrored in the oracle):
    *
    *   U  = R₁ − n₁(n₁+1)/2
    *   σ² = n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1)))
    *
    * R₁ per level is Σ over (group, value) CELLS of cnt·avgrank — the
    * row table is touched by one cell aggregate; T levels cost one
    * histogram, not T rankings. */
  def mannWhitneyOneVsRest(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val data = df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val (hist, scalars) = valueHist(data, "v")
    val cells = data.groupBy("g", "v").agg(count(lit(1)).as("gcnt"))
    val per = cells.join(hist.select("v", "avgrank"), Seq("v"))
      .groupBy(col("g").as(groupCol))
      .agg(sum("gcnt").cast("double").as("__n1"),
        sum(col("gcnt") * col("avgrank")).as("__r1"))
    val n = col("__n"); val n1 = col("__n1"); val n2 = n - n1
    val u = col("__r1") - n1 * (n1 + 1) / 2
    val sigma2 = n1 * n2 / 12 * ((n + 1) - col("__tiesum") / (n * (n - 1)))
    per.crossJoin(broadcast(scalars))
      .where(n1 > 0 && n2 > 0)
      .select(col(groupCol),
        n1.cast("long").as("n1"), n2.cast("long").as("n2"),
        round(u, 1).as("u"),
        round(u / (n1 * n2), 6).as("auc"),
        round((u - n1 * n2 / 2) / sqrt(sigma2), 6).as("z"))
      .orderBy(groupCol)
  }

  /** Kruskal–Wallis rank ANOVA across all levels of `groupCol`: one
    * row per level (n, mean rank) with the shared statistics in-row
    * (the q86 in-row-constant convention):
    *
    *   H = 12/(N(N+1)) · Σ nᵢ(R̄ᵢ − (N+1)/2)²,   H_c = H / C,
    *   C = 1 − Σ(t³−t)/(N³−N)
    *
    * Same histogram ranking; H totals aggregate the T-row per-group
    * frame. */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val data = df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .where(col("g").isNotNull && col("v").isNotNull)
    val (hist, scalars) = valueHist(data, "v")
    val cells = data.groupBy("g", "v").agg(count(lit(1)).as("gcnt"))
    val per = cells.join(hist.select("v", "avgrank"), Seq("v"))
      .groupBy(col("g").as(groupCol))
      .agg(sum("gcnt").cast("double").as("__ni"),
        sum(col("gcnt") * col("avgrank")).as("__ri"))
      .crossJoin(broadcast(scalars))
      .transform(Pin.lazily)
    val n = col("__n")
    val dev = col("__ri") / col("__ni") - (n + 1) / 2
    val hTot = per
      .agg((lit(12.0) / (first(n) * (first(n) + 1)) *
          sum(col("__ni") * dev * dev)).as("__h"),
        (lit(1.0) - first(col("__tiesum")) /
          (first(n) * first(n) * first(n) - first(n))).as("__c"),
        (count(lit(1)) - 1).cast("long").as("dof"))
    per.crossJoin(broadcast(hTot))
      .select(col(groupCol), col("__ni").cast("long").as("n"),
        round(col("__ri") / col("__ni"), 6).as("mean_rank"),
        round(col("__h"), 6).as("h"),
        col("dof"),
        round(col("__h") / col("__c"), 6).as("h_tie_corrected"))
      .orderBy(groupCol)
  }

  /** Spearman rank-correlation matrix over numeric columns: per-column
    * histogram average ranks joined back on the value (each join an
    * equi-shuffle; the histogram side is value-cardinality-sized),
    * then Pearson `corr` over the rank columns — Spearman's definition
    * with exact tie handling, the q55 Pearson matrix's monotone
    * sibling. Output: one row, a `colA_colB` correlation per pair.
    * Null policy: LISTWISE drop (a row missing any column leaves the
    * matrix), so every pair correlates the same row set and ranks are
    * computed once per column. */
  def spearmanMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    // the base frame feeds every column's histogram AND the join
    // chain — checkpoint so the scan runs once; each histogram builds
    // from the BASE, not the partially-joined fold (joining adds rank
    // columns, never rows, so the histograms are identical — building
    // them from the fold would replay the earlier joins per column)
    val data = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
      .na.drop(cols)
      .transform(Pin.lazily)
    // r15 restructure, same values (oracle hash re-verified):
    //
    // 1. ONE histogram pass instead of |cols|: the per-column valueHist
    //    calls each re-aggregated the row frame and materialized two
    //    checkpoints — 4 columns cost 4 row-scale shuffles, 8
    //    checkpoints and 4 window passes. Exploding to (ci, v) rows and
    //    taking the prefix counts with ci as the group computes every
    //    column's histogram in one shuffle whose total bytes equal the
    //    four separate ones, one window pass, two checkpoints.
    //    Per-(column, value) cnt/avgrank are unchanged: each column's
    //    cumulative windows see exactly its own rows.
    //
    // 2. Size-aware decoration joins: each fold join re-shuffles the
    //    FULL row frame on a different key, and the checkpointed
    //    histogram side carries no size stats, so the planner made
    //    every decoration a SortMergeJoin — including bounded-domain
    //    columns whose histograms are KB-scale at ANY corpus size (a
    //    50-value quantity column has a 50-row histogram at 100 TB
    //    too). Decide per column from the MATERIALIZED histogram's
    //    real row count (exact, not an estimate): small histogram →
    //    broadcast join (no row-frame shuffle); unbounded-cardinality
    //    histogram → keep the equi-shuffle SMJ, the scale-correct
    //    shape there. Measured on q193's column set at sf0.1
    //    (DebugR15 profiler): 4 SMJs → 1 SMJ + 3 broadcasts, and with
    //    the one-pass histogram 8.8 → 6.9 s cold, 4.8 → 3.3 s warm.
    val longFmt = data.select(posexplode(
      array(cols.map(c => col(c)): _*)).as(Seq("ci", "v")))
    val hist0 = longFmt.groupBy("ci", "v").agg(count(lit(1)).as("cnt"))
    val hist = Spine.prefixSums(hist0, Seq("ci"), col("v"), Seq("cnt"), inclusive = false)
      .select(col("ci"), col("v"), (col("cnt_prefix") + (col("cnt") + 1) / 2.0).as("avgrank"))
      .transform(Pin.lazily)
    val histSizes = hist.groupBy("ci").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ranked = cols.zipWithIndex.foldLeft(data) { case (d, (c, i)) =>
      val side = hist.filter(col("ci") === i)
        .select(col("v").as(c), col("avgrank").as(s"__r_$c"))
      val decorated =
        if (histSizes.getOrElse(i, 0L) <= BroadcastHistMaxRows) broadcast(side)
        else side
      d.join(decorated, Seq(c))
    }
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield round(corr(s"__r_${cols(i)}", s"__r_${cols(j)}"), 6)
      .as(s"${cols(i)}_${cols(j)}")
    ranked.agg(pairs.head, pairs.tail: _*)
  }

  /** Per-row CDF transform (probability integral transform) of
    * `valueCol` within each group — the rank-based feature
    * normalization (sklearn's QuantileTransformer shape): every value
    * maps to its mid-rank empirical CDF, avgrank(v)/n ∈ (0, 1], with
    * ties sharing one output (equal inputs → equal features). Makes
    * heavy-tailed features uniform without fitting anything.
    *
    * Scale shape: the same value-histogram primitive as the rank
    * tests, per group — one (group, value) cell aggregate, its
    * per-group prefix counts and totals from [[Spine.prefixSums]] (a
    * group whose distinct count ≈ its row count never sorts through
    * one per-group spine), and one equi-join back on (group, value) to
    * decorate rows. No row-scale rank window anywhere. Determinism:
    * avgrank is exact halves, /n is the single final division,
    * rounded at 6. */
  def cdfTransform(df: DataFrame, valueCol: String, groupCols: Seq[String],
      keepCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val v = col(valueCol).cast("double")
    val data = df.filter(v.isNotNull)
      .select((keepCols.map(col) ++ g) :+ v.as("__v"): _*)
    val cells = data.groupBy((g :+ col("__v")): _*)
      .agg(count(lit(1)).as("__cnt"))
    val hist = Spine.prefixSums(cells, groupCols, col("__v"), Seq("__cnt"), inclusive = false)
      .select((g ++ Seq(col("__v"),
        (col("__cnt_prefix") + (col("__cnt") + 1) / 2.0).as("__avgrank"),
        col("__cnt_total").as("__n"))): _*)
    data.join(hist, groupCols :+ "__v")
      .select((keepCols.map(col) ++ g) ++ Seq(col("__v").as(valueCol),
        round(col("__avgrank") / col("__n"), 6).as("cdf")): _*)
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic at corpus scale —
    * the distribution-shift test (train-vs-eval drift, segment A/B)
    * whose textbook formulation sorts the pooled sample:
    * D = max over pooled distinct values of |F̂_A(v) − F̂_B(v)|.
    *
    * Scale + exactness shape: one (value → per-sample count) cell
    * aggregate, the INCLUSIVE cumulative for both samples at once
    * ([[Spine.prefixSums]]), then D's numerator as
    * max |cumA·n_B − cumB·n_A| — all-INTEGER comparison (no float CDF
    * ties; int64-safe to ~3·10⁹ rows per sample, the skewReport
    * bound), divided by n_A·n_B exactly once at the end. The reported
    * location is the SMALLEST value attaining the max (total tie-break
    * → hashable). `lambda` is the asymptotic Kolmogorov scaling
    * (√n_e + 0.12 + 0.11/√n_e)·D (Stephens 1970) — emitted instead
    * of the p-value because it needs only sqrt/· (IEEE
    * correctly-rounded, bit-identical cross-engine); exp series are
    * the one step an oracle cannot restate bit-exactly. */
  def ksTwoSample(df: DataFrame, valueCol: String, groupCol: String,
      levelA: String, levelB: String): DataFrame = {
    val data = df.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .where(col("v").isNotNull && col("g").isin(levelA, levelB))
    val cells = data.groupBy("v").agg(
        sum(when(col("g") === levelA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("g") === levelB, 1L).otherwise(0L)).as("cb"))
    val na = col("ca_total"); val nb = col("cb_total")
    val ne = (na * nb) / (na + nb).cast("double")
    val d = col("__dnum").cast("double") / (na * nb)
    Spine.prefixSums(cells, Nil, col("v"), Seq("ca", "cb"), inclusive = true)
      .withColumn("__dnum", abs(col("ca_prefix") * nb - col("cb_prefix") * na))
      .orderBy(col("__dnum").desc, col("v"))
      .limit(1)
      .select(na.as("n_a"), nb.as("n_b"), col("v").as("at_value"),
        round(d, 6).as("ks_d"),
        round((sqrt(ne) + lit(0.12) + lit(0.11) / sqrt(ne)) * d, 4).as("lambda"))
  }
}
