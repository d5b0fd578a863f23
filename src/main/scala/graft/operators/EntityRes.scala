package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution — the record-linkage candidate
  * generator: find pairs of distinct name strings within edit
  * distance `maxDist`, comparing only within cheap blocking keys so
  * the pair work never goes corpus-quadratic.
  *
  * Scale design, in order of defense:
  *   1. the corpus collapses to its DISTINCT normalized names first
  *      (one hash aggregate) — pair generation runs on the vocab-sized
  *      name table, never on rows, and each name carries its row
  *      support so cluster mass survives the collapse;
  *   2. names equi-shuffle on the blocking key (here: the last
  *      whitespace token — the head noun of a product/entity name),
  *      so candidate pairs are Σ_block |block|², bounded by the
  *      largest block rather than the vocabulary;
  *   3. the `a < b` canonical ordering halves the pair space and
  *      makes output deterministic.
  * Levenshtein itself is row-local (codegen'd built-in, no UDF). The
  * standard blocking recall caveat applies and is part of the
  * operator's contract: a pair differing IN the blocking token (e.g. a
  * typo in the head noun) is not a candidate — production linkage runs
  * several block keys and unions, which is this same operator composed.
  *
  * Cross-engine determinism: classic Levenshtein DP is exactly
  * specified (integer), blocking is a regex token extraction both
  * engines implement identically, so the full output hash-matches a
  * DuckDB restatement. */
object EntityRes {

  /** Near-duplicate name pairs within blocks: (block, name_a, name_b,
    * dist, n_rows_a, n_rows_b), name_a < name_b, edit distance ≤
    * `maxDist`, ordered by (name_a, name_b). Names are lower/trim
    * normalized; the blocking key is the last whitespace token. */
  def fuzzyNameMatches(df: DataFrame, nameCol: String,
      maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1, "maxDist must be positive")
    val names = df
      .filter(col(nameCol).isNotNull)
      .select(lower(trim(col(nameCol))).as("name"))
      .filter(col("name") =!= "")
      .groupBy("name").agg(count(lit(1)).as("n_rows"))
      .withColumn("block", regexp_extract(col("name"), "(\\S+)$", 1))
    val a = names.select(col("block"), col("name").as("name_a"),
      col("n_rows").as("n_rows_a"))
    val b = names.select(col("block"), col("name").as("name_b"),
      col("n_rows").as("n_rows_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select("block", "name_a", "name_b", "dist", "n_rows_a", "n_rows_b")
      .orderBy("name_a", "name_b")
  }

  /** [[fuzzyNameMatches]]'s similarity-scored sibling: the same
    * distinct-collapse + head-noun blocking, scored by Jaro–Winkler
    * (native [[org.apache.spark.sql.catalyst.expressions.graft.JaroWinkler]]
    * expression) instead of edit distance — the measure record-linkage
    * toolkits default to for NAMES, where a shared prefix is strong
    * evidence and a transposed pair of characters is weak counter-
    * evidence (Winkler 1990; edit distance weighs both the same).
    * The threshold compares the ROUNDED score (4 dp) so the cut is
    * identical arithmetic in any engine computing standard JW. */
  def jaroWinklerMatches(df: DataFrame, nameCol: String,
      threshold: Double = 0.9): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    val names = df
      .filter(col(nameCol).isNotNull)
      .select(lower(trim(col(nameCol))).as("name"))
      .filter(col("name") =!= "")
      .groupBy("name").agg(count(lit(1)).as("n_rows"))
      .withColumn("block", regexp_extract(col("name"), "(\\S+)$", 1))
    val a = names.select(col("block"), col("name").as("name_a"),
      col("n_rows").as("n_rows_a"))
    val b = names.select(col("block"), col("name").as("name_b"),
      col("n_rows").as("n_rows_b"))
    a.join(b, Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw", round(expr("jaro_winkler(name_a, name_b)"), 4))
      .filter(col("jw") >= threshold)
      .select("block", "name_a", "name_b", "jw", "n_rows_a", "n_rows_b")
      .orderBy("name_a", "name_b")
  }
}
