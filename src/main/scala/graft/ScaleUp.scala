package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing testdata directory —
  * the empirical leg of the 100 TB argument: the suite's scale-safety
  * claims (bounded candidate sets, no ordering spines, broadcastable
  * dims) are audited on plans, and this tool buys one order of
  * magnitude of measurement to back them (`BENCH` at the derived sf1
  * vs sf0.1 — a superlinear-growth query is a missed scale-killer).
  *
  * `factor` shifted copies of every scaling table, keys remapped by a
  * per-table stride (max key + 1) so copy c's orders reference copy
  * c's customers — referential structure, join fan-outs, and group
  * cardinalities scale the way a real bigger dataset's would.
  * region/nation stay fixed (the TPC-H convention: geography does not
  * grow with volume).
  *
  * Two tables need DECORRELATION, not just key shifts — naive copies
  * would make every document a 10-way duplicate and every embedding a
  * 10-way cosine-1 clone, turning the near-dup workloads into
  * quadratic cross-copy blowups that no real corpus at sf1 exhibits
  * (duplicate RATE should stay constant as the corpus grows, not the
  * duplicate multiplicity):
  *  - documents: copy c > 0 suffixes every token with `_c{c}` —
  *    vocabularies of different copies are disjoint, so no cross-copy
  *    shingle ever collides, while per-doc token/shingle counts (and
  *    the planted fixtures, which live in copy 0) are untouched;
  *  - embeddings: copy c applies the deterministic sign pattern
  *    s_i = ±1 from md5(c, i) per dimension — an isometry (all
  *    WITHIN-copy cosines are exactly preserved) whose cross-copy
  *    cosines are near zero for generic vectors.
  *
  * Run: `graft.ScaleUp <inDir> <outDir> <factor>`; Bench/Verify then
  * point SPARK_GRAFT_SF_DIR at outDir.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir, factorStr) = args
    val factor = factorStr.toInt
    require(factor >= 1, "factor must be >= 1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def in(name: String): DataFrame = spark.read.parquet(s"$inDir/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")

    // fixed geography
    Seq("region", "nation").foreach(t => write(in(t), t))

    def strideOf(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1

    /** factor shifted copies; `shifts` maps key column → stride. */
    def copies(df: DataFrame, shifts: Map[String, Long],
        perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { c =>
        val shifted = shifts.foldLeft(df) { case (d, (k, s)) =>
          d.withColumn(k, col(k) + lit(s * c))
        }
        perCopy(shifted, c)
      }.reduce(_ unionByName _)

    val customer = in("customer"); val custS = strideOf(customer, "c_custkey")
    val supplier = in("supplier"); val suppS = strideOf(supplier, "s_suppkey")
    val part = in("part");         val partS = strideOf(part, "p_partkey")
    val orders = in("orders");     val ordS = strideOf(orders, "o_orderkey")
    write(copies(customer, Map("c_custkey" -> custS)), "customer")
    write(copies(supplier, Map("s_suppkey" -> suppS)), "supplier")
    write(copies(part, Map("p_partkey" -> partS)), "part")
    write(copies(orders, Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(copies(in("lineitem"), Map(
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)), "lineitem")

    val events = in("events")
    val evS = strideOf(events, "event_id")
    val userS = strideOf(events, "user_id")
    write(copies(events, Map("event_id" -> evS, "user_id" -> userS)), "events")

    val docs = in("documents")
    val docS = strideOf(docs, "doc_id")
    write(copies(docs, Map("doc_id" -> docS), (d, c) =>
      if (c == 0) d
      else d.withColumn("text",
        array_join(transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"_c$c"))), " "))), "documents")

    val emb = in("embeddings")
    val vecS = strideOf(emb, "vec_id")
    write(copies(emb, Map("vec_id" -> vecS), (d, c) =>
      if (c == 0) d
      else d.withColumn("embedding",
        expr(s"""transform(embedding, (x, i) ->
                |  CAST(x * (CAST(conv(substring(md5(concat('$c', ':', i)), 1, 1), 16, 10) AS INT) % 2 * 2 - 1) AS FLOAT))"""
          .stripMargin))), "embeddings")

    println(s"[scaleup] wrote ${factor}x of $inDir to $outDir")
    spark.stop()
  }
}
