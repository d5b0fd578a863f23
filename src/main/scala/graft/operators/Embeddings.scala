package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Pin

/** Corpus-level embedding-column statistics and normalization.
  *
  * Per-dimension moments are ONE `vec_sum` aggregate pass (the native
  * TypedImperativeAggregate): each partition folds its vectors into a
  * d-length buffer, buffers merge associatively, and the shuffle moves
  * d doubles per partition — never an exploded (row × dim) stream,
  * which at 100 TB × d=1024 would be a 1024× row blow-up through the
  * exchange. The d-row output frame is driver-scale by definition
  * (d ≤ a few thousand).
  *
  * [[whiten]] applies the inverse-std transform row-locally from the
  * collected d-length stats arrays — a KB-scale model artifact (the
  * k-means-centroid pattern), embedded as literals in a higher-order
  * `transform`, so normalization is a zero-shuffle projection.
  */
object Embeddings {

  /** One row per dimension: n, mean, std (population), all from a
    * single aggregate pass (sums + squared sums via vec_sum). */
  def perDimStats(spark: SparkSession, emb: DataFrame, vecCol: String): DataFrame = {
    val agg = emb.where(col(vecCol).isNotNull)
      .agg(
        expr(s"vec_sum($vecCol)").as("s1"),
        expr(s"vec_sum(transform($vecCol, x -> cast(x as double) * cast(x as double)))")
          .as("s2"),
        count(lit(1)).as("n"))
    agg
      .select(col("n"), col("s2"), posexplode(col("s1")).as(Seq("dim", "sum1")))
      .withColumn("sum2", element_at(col("s2"), col("dim") + 1))
      .withColumn("mean", col("sum1") / col("n"))
      .withColumn("variance",
        greatest(col("sum2") / col("n") - col("mean") * col("mean"), lit(0.0)))
      .select(col("dim"), col("n"),
        round(col("mean"), 6).as("mean"),
        round(sqrt(col("variance")), 6).as("std"))
      .orderBy("dim")
  }

  /** Standardize every vector to zero-mean/unit-std per dimension.
    * Stats are collected once (d doubles — KB-scale) and applied as a
    * row-local transform; zero-variance dims pass through centered. */
  def whiten(spark: SparkSession, emb: DataFrame, vecCol: String): DataFrame = {
    val stats = perDimStats(spark, emb, vecCol)
      .select("dim", "mean", "std").collect()
      .sortBy(_.getAs[Int]("dim"))
    val means = stats.map(_.getAs[Double]("mean"))
    val stds  = stats.map(_.getAs[Double]("std")).map(s => if (s == 0.0) 1.0 else s)
    val meanArr = array(means.map(lit(_)): _*)
    val stdArr  = array(stds.map(lit(_)): _*)
    emb.withColumn("__m", meanArr).withColumn("__s", stdArr)
      .withColumn(vecCol,
        expr(s"transform($vecCol, (x, i) -> " +
          s"cast((cast(x as double) - element_at(__m, i + 1)) / element_at(__s, i + 1) as float))"))
      .drop("__m", "__s")
  }

  /** Corpus geometry audit: the pairwise-cosine DISTRIBUTION on a
    * deterministic sample of pairs — the embedding-space health
    * snapshot (anisotropy/collapse detection: a healthy corpus has a
    * broad cosine spread; a collapsed or un-centered one concentrates
    * near 1; Ethayarajh 2019's contextual-anisotropy measurement).
    * Computing all n² cosines is the thing this must NOT do; instead
    * each vector pairs with the vectors `offsets` ranks away in
    * vec-id rank order — with id-uncorrelated embeddings this is a
    * uniform pair sample of size |offsets|·n, created by |offsets|
    * self-equi-joins on rank (no cross join anywhere).
    *
    * Output: one row per cosine bin (width 0.1 over [−1, 1], rounded
    * cosine at 6 before binning so both engines bin the same value),
    * with n_pairs / share and the sample mean cosine in-row.
    *
    * Rows with a null `idCol` or a null `vecCol` are dropped before
    * ranking: they join no sampled pair and count in no bin, share or
    * mean. */
  def cosineHistogram(spark: SparkSession, emb: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      offsets: Seq[Int] = Seq(1, 17, 97)): DataFrame = {
    // rank spine: two-phase bucket+offset rank (Spine.rankBy) — the
    // r15 verdict's one remaining row-scale unpartitioned window,
    // replaced by per-bucket prefix counts whose offsets come from a
    // ≤4096-row bucket histogram; value-identical because vec ids are
    // unique and non-null (enforced by the filter), so no single task
    // ever materializes the whole embeddings table
    val ranked = Spine.rankBy(
      emb.where(col(vecCol).isNotNull && col(idCol).isNotNull)
        .select(col(idCol), col(vecCol)),
      col(idCol), "__r")
      .transform(Pin.lazily)
    val pairs = offsets.map { o =>
      ranked.select(col("__r"), col(vecCol).as("__va"))
        .join(ranked.select((col("__r") - o).as("__r"), col(vecCol).as("__vb")),
          Seq("__r"))
    }.reduce(_ unionByName _)
    val cos = pairs.select(
      round(expr("cosine_sim(__va, __vb)"), 6).as("__c"))
    val binned = cos
      .withColumn("bin",
        least(greatest(floor((col("__c") + 1.0) * 10).cast("int"), lit(0)),
          lit(19)))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val tot = binned.agg(sum("n_pairs").as("__t"),
      count(lit(1)).as("__nb"))
    val meanC = cos.agg(round(avg("__c"), 4).as("mean_cosine"))
    binned.crossJoin(broadcast(tot)).crossJoin(broadcast(meanC))
      .select(col("bin"),
        round(lit(-1.0) + col("bin") / 10.0, 1).as("bin_lo"),
        col("n_pairs"),
        round(col("n_pairs") / col("__t"), 6).as("share"),
        col("mean_cosine"))
      .orderBy("bin")
  }
}
