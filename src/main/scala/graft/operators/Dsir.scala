package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
  * choose pre-training documents that look like a small high-quality
  * TARGET corpus by importance weights under hashed n-gram bag models.
  *
  *  - Fit: one explode + ONE bucket-keyed aggregate over the corpus
  *    computes raw and target bucket counts together (the target is a
  *    predicate over the same rows, so no second scan); the fitted
  *    model is `nBuckets` log-probability ratios — a driver-scale
  *    artifact exactly like the k-means centroid table.
  *  - Score: ROW-LOCAL — each doc left-folds its own positional
  *    bigrams through the ratio array embedded as a literal (md5
  *    bucket → `element_at`), in document order, zero exchanges. This
  *    is the deployment shape: fit once on a sample, score 100 TB as
  *    a map-only pass.
  *  - Select: Gumbel-top-k resampling made DETERMINISTIC — the Gumbel
  *    noise derives from md5(doc_id) (the engine's [[Curation.hashUnit]]
  *    discipline), so selection is reproducible across engines, runs,
  *    and cluster sizes, and DuckDB can restate it exactly. Top-k runs
  *    as orderBy+limit (TakeOrderedAndProject — per-partition heaps,
  *    no single-partition window).
  *
  * Hash-bucket idiom (`md5` prefix → integer) matches
  * [[Curation.hashBucket]] so the oracle replicates bucketing
  * verbatim. Add-1 smoothing over all buckets keeps ratios finite.
  */
object Dsir {

  /** Per-gram hash bucket in [0, nBuckets). */
  def gramBucket(gram: Column, nBuckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 6), 16, 10).cast("long"), lit(nBuckets))

  /** Positional bigrams of the tokenized text (duplicates preserved —
    * DSIR counts occurrences, not types). Native shingle_seq. */
  private def bigrams(textCol: String): Column =
    expr(s"shingle_seq(split(lower(trim($textCol)), '\\\\s+'), 2)")

  /** Fit the hashed-bigram importance model: returns
    * `log p_target(b) − log p_raw(b)` for every bucket, add-1 smoothed.
    * One corpus pass; result is sorted by bucket (collect order is
    * partition-dependent — sorting is the determinism guard). */
  def fitLogRatios(docs: DataFrame, targetPred: Column,
      textCol: String = "text", nBuckets: Int = 256): Array[Double] = {
    val counts = docs
      .select(explode(bigrams(textCol)).as("gram"), targetPred.cast("long").as("is_t"))
      .select(gramBucket(col("gram"), nBuckets).as("b"), col("is_t"))
      .groupBy("b").agg(count(lit(1)).as("c_raw"), sum("is_t").as("c_t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val tRaw = counts.map(_._2).sum.toDouble
    val tT = counts.map(_._3).sum.toDouble
    val byBucket = counts.map { case (b, r, t) => b -> (r, t) }.toMap
    Array.tabulate(nBuckets) { b =>
      val (r, t) = byBucket.getOrElse(b.toLong, (0L, 0L))
      math.log((t + 1.0) / (tT + nBuckets)) - math.log((r + 1.0) / (tRaw + nBuckets))
    }
  }

  /** Score every doc under a fitted model: `logw_raw` = left fold of
    * per-bigram log ratios in document order (deterministic float
    * summation on any partitioning), `n_grams` the bigram count.
    * Zero exchanges (spec-asserted). */
  def score(docs: DataFrame, logRatios: Array[Double],
      textCol: String = "text"): DataFrame = {
    val nBuckets = logRatios.length
    val ratioArr = array(logRatios.map(lit): _*)
    docs
      .withColumn("__grams", bigrams(textCol))
      .withColumn("n_grams", size(col("__grams")))
      .withColumn("logw_raw",
        aggregate(col("__grams"), lit(0.0d), (acc, g) =>
          acc + element_at(ratioArr, (gramBucket(g, nBuckets) + 1).cast("int"))))
      .drop("__grams")
  }

  /** Deterministic Gumbel draw from a key: −ln(−ln(u)) with
    * u = (md5-derived integer + 0.5) / 10^6 ∈ (0, 1) — never 0 or 1,
    * so the logs are always finite. */
  def gumbelKey(key: Column): Column = {
    val u = (pmod(conv(substring(md5(key.cast("string")), 1, 6), 16, 10).cast("long"),
      lit(1000000)).cast("double") + lit(0.5)) / lit(1000000.0)
    -log(-log(u))
  }

  /** Full DSIR selection: fit on `targetPred`, score all docs, keep the
    * top `k` by perturbed weight (logw + Gumbel), ties broken by id.
    * `sel_key`/`logw` are rounded per the aggregate-rounding discipline
    * BEFORE ranking so the cut line is engine-stable. */
  def select(spark: SparkSession, docs: DataFrame, targetPred: Column, k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      nBuckets: Int = 256): DataFrame = {
    val model = fitLogRatios(docs, targetPred, textCol, nBuckets)
    score(docs, model, textCol)
      .withColumn("logw", round(col("logw_raw"), 4))
      .withColumn("sel_key", round(col("logw_raw") + gumbelKey(col(idCol)), 4))
      .drop("logw_raw")
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(k)
  }
}
