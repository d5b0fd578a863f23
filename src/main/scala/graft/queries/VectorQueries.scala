package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables
import graft.operators.Similarity
import graft.plans.Pin

/** Similarity-search queries over the `embeddings` table
  * (`vec_id, embedding: array<float>, label`).
  *
  * q34 (brute-force) is oracle-checked: DuckDB's
  * `list_cosine_similarity` over the embedding cast to DOUBLE[] performs
  * the same sequential double accumulation as the native
  * [[graft.plans.CosineSimilarity]] expression, and ranking orders by
  * the similarity rounded to 1e-6 (tie-break vec_id) on both sides so
  * float jitter cannot flip ranks. q35 (LSH) runs the md5 SRP-sign
  * bucket mode (8 tables × 8 bits, 1-bit multiprobe), so DuckDB
  * replicates buckets, probes, candidates, and recall — full hash
  * oracle since r8; the xxhash64 hyperplane mode remains for
  * production and keeps its ScalaTest recall checks.
  */
object VectorQueries {

  private val NQueries = 5

  /** Brute-force exact cosine top-10 for the first five vectors. */
  def q34KnnBruteForce(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(s, emb, emb.filter(col("vec_id") < NQueries), k = 10)
      .orderBy("query_id", "rank")
  }

  /** Matryoshka-truncation audit (Kusupati et al. 2022, MRL): retrieve
    * with the FIRST 16 of 64 dims, audit against the full-dim exact
    * top-10 — the "how much recall does a 4× cheaper index lose"
    * readout behind every tiered retrieval stack (coarse search on a
    * dim prefix, rerank survivors at full width). Each hit carries its
    * prefix-dim score, the full-dim score RECOMPUTED for that pair
    * (the rerank signal — a tiny candidates×1 join, never a second
    * corpus pass), the in_exact flag, and per-query recall. At 100 TB
    * the prefix corpus is the index working set: the same memory-lever
    * argument as int8 quantization (q66), composable with it. Full
    * hash oracle — slicing and cosine are exact arithmetic on both
    * engines. */
  def q288Matryoshka(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val tr = emb.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("embedding"))
    val approx = Similarity.bruteForceTopK(
        s, tr, tr.filter(col("vec_id") < NQueries), k = 10)
      .withColumnRenamed("sim", "sim16")
    val exact = Similarity.bruteForceTopK(
        s, emb, emb.filter(col("vec_id") < NQueries), k = 10)
    // rerank signal: the full-dim score for each surviving pair — a
    // 10·NQueries-row frame joined to the corpus by id (broadcast the
    // tiny pair side), plus the broadcast query vectors
    val full = approx.select("query_id", "vec_id")
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(emb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))),
        Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr("cosine_sim(embedding, q_emb)"), 6).as("sim64"))
    Similarity.recallVsExact(approx, exact.select("query_id", "vec_id"), 10)
      .join(broadcast(full), Seq("query_id", "vec_id"))
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim16"),
        col("sim64"), col("in_exact"), col("recall_vs_exact"))
      .orderBy("query_id", "rank")
  }

  /** Tiered retrieval stack end-to-end (r11 verdict item 6 — the
    * production readout q288 and q66 separately imply): stage 1
    * searches int8-QUANTIZED 16-dim MATRYOSHKA PREFIXES — a 16× index
    * shrink (4× from the dim prefix, 4× from int8) — for a 50-deep
    * shortlist; stage 2 reranks ONLY the survivors at full fp width.
    * The output carries recall-vs-exact plus the planted-impostor
    * audit: id −77 shares query 0's prefix EXACTLY (same prefix ⇒ same
    * scale ⇒ same codes ⇒ coarse sim 1.0, so it must top the
    * shortlist) but its tail is negated (full-width cosine < 0), so
    * ONLY the final rerank can demote it — `impostor_shortlisted` = 1,
    * `impostor_in_top10` = 0. Exact arithmetic end to end
    * (deterministic integer quantization, sequential double cosines)
    * → full hash oracle.
    *
    * Scale shape: the coarse stage is the only corpus scan and reads
    * 16 int8 codes + one scale per row (the index working set at
    * 100 TB); the shortlist is candidates-sized and pinned once; the
    * rerank joins candidates×1 back to the full-width corpus by id;
    * the query side broadcasts at every stage. */
  def q289TieredRetrieval(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val impostor = emb.filter(col("vec_id") === 0)
      .select(lit(-77L).as("vec_id"),
        expr("concat(slice(embedding, 1, 16), transform(slice(embedding, 17, 48), x -> -x))")
          .as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(impostor)
    val pre = corpus.select(col("vec_id"), expr("slice(embedding, 1, 16)").as("embedding"))
    val qz = Similarity.quantizeInt8(pre)
      .withColumn("deq", expr("transform(q_vec, v -> v * q_scale)"))
    val queries = broadcast(qz.filter(col("vec_id") >= 0 && col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("deq").as("q_deq")))
    val coarse = qz.select(col("vec_id"), col("deq"))
      .crossJoin(queries)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim16", round(expr("cosine_sim(deq, q_deq)"), 6))
    val shortl = coarse
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim16").desc, col("vec_id"))))
      .filter(col("crank") <= 50)
      .select("query_id", "vec_id", "sim16")
      .transform(graft.plans.Pin.eager) // candidate-scale; feeds rerank + audit
    val qFull = broadcast(emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val top = shortl
      .join(corpus, Seq("vec_id"))
      .join(qFull, Seq("query_id"))
      .withColumn("sim64", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("sim64").desc, col("vec_id"))))
      .filter(col("rank") <= 10)
      .select("query_id", "vec_id", "sim16", "sim64", "rank")
    val exact = Similarity.bruteForceTopK(s, corpus,
      emb.filter(col("vec_id") < NQueries), k = 10)
    val ga = shortl.agg(
      sum(when(col("query_id") === 0 && col("vec_id") === -77L, 1).otherwise(0))
        .as("impostor_shortlisted"))
    val gb = top.agg(
      sum(when(col("vec_id") === -77L, 1).otherwise(0)).as("impostor_in_top10"))
    Similarity.recallVsExact(top, exact.select("query_id", "vec_id"), 10)
      .crossJoin(broadcast(ga)).crossJoin(broadcast(gb))
      .select(col("query_id"), col("rank"), col("vec_id"), col("sim16"),
        col("sim64"), col("in_exact"), col("recall_vs_exact"),
        col("impostor_shortlisted"), col("impostor_in_top10"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed approximate top-10 for the same query set, annotated
    * with per-query recall against the exact result — FULL hash oracle
    * in the md5 SRP-sign bucket mode (q41/q112 idiom): DuckDB
    * recomputes every table bucket, the multiprobe bit flips, the
    * candidate top-10 (rounded-sim order), and the recall join against
    * its own brute-force restatement. */
  def q35KnnLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    Similarity.recallVsExact(
        Similarity.lshTopK(s, emb, q, k = 10, nBits = 8, tables = 8, md5Mode = true),
        Similarity.bruteForceTopK(s, emb, q, k = 10), k = 10)
      .orderBy("query_id", "rank")
  }

  /** IVF-bucketed approximate top-10, annotated with per-query recall
    * against the exact result — FULL hash oracle since r8: the seed
    * centroids are percentile-picked vec_ids whose rank rule
    * (1-based rank ceil(q·n) — corrected in r12 from ⌊q·n⌋+1, which
    * only agrees while q·n is non-integer; exact because the sketch
    * retains all samples below its accuracy) DuckDB restates over the
    * ordered id spine; cell assignment and query probes re-derive from
    * raw cosines with the (sim DESC, cid DESC) tie rule, and the
    * candidate top-10 + recall join follow the q35 restatement. */
  def q43KnnIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    Similarity.recallVsExact(
        Similarity.ivfTopK(s, emb, q, k = 10, nCentroids = 16, nProbe = 4),
        Similarity.bruteForceTopK(s, emb, q, k = 10), k = 10)
      .orderBy("query_id", "rank")
  }

  /** MMR diversity re-rank (native [[MmrSelect]] greedy tail over the
    * exact top-50 candidates, λ=0.7) — FULL hash oracle since r8: the
    * greedy recursion IS SQL-expressible as a recursive CTE whose
    * per-step argmax runs on bit-identical doubles (6-dp-rounded
    * relevance, sequential normalized dots, the literal (1.0 − 0.7)
    * weight) with the same (objective, min id) tie rule; all 50 picks
    * across 10 steps × 5 queries replay exactly, and the emitted
    * objective rounds at 4 (see mmrRerank's hazard analysis). The
    * in-row `n_first_matches_top1` guarantee and the λ=1 degeneration
    * spec are retained. */
  def q94Mmr(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    val top50 = Similarity.bruteForceTopK(s, emb, q, k = 50)
    val mmr = Similarity.mmrRerank(s, top50, emb, k = 10, lambda = 0.7)
    val exact1 = top50.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id").as("top1_id"))
    val rows = mmr.join(broadcast(exact1), Seq("query_id"))
      .withColumn("first_is_top1",
        when(col("rank") === 1, (col("vec_id") === col("top1_id")).cast("int")))
    val g = rows.agg(sum("first_is_top1").as("n_first_matches_top1"))
    rows.crossJoin(broadcast(g))
      .select(col("query_id"), col("vec_id"), col("mmr"), col("rank"),
        col("n_first_matches_top1"))
      .orderBy("query_id", "rank")
  }

  /** Spherical k-means training surfaced as a driver query — the last
    * spec-only operator gets a guarantee-carrying gate entry. Two
    * guarantees, both in-row:
    *
    *  - `monotone_ok`/`n_violations`: the per-iteration objective
    *    J(a_t, c_t) = Σ(1 − cos) over the UNIT-NORMALIZED corpus
    *    (normalization is what makes [[Similarity.kmeansFitTrace]]'s
    *    driver-side inertia identity exact) must be non-increasing —
    *    Lloyd's convergence guarantee, checked row by row with a 1e-9
    *    float-noise epsilon.
    *  - `blobs_pure`/`blobs_recovered`: on three planted orthogonal
    *    blobs (20 points each, deterministic in-blob spread, cross-blob
    *    cosine 0) a k=3 fit must assign each blob to its own cell
    *    (purity) and learn a centroid within cosine 0.99 of the blob
    *    mean (recovery).
    *
    * The trace rows are driver-assembled scalars (one per Lloyd's
    * round) — the distributed work is the per-round assign + aggregate
    * inside kmeansFitTrace, identical to production use. */
  def q100KmeansTrace(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val norm2 = "aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * x)"
    val unit = emb
      .filter(expr(norm2) > 0)
      .select(col("vec_id"),
        expr(s"transform(embedding, v -> CAST(v / sqrt($norm2) AS FLOAT))").as("embedding"))
    val (_, trace) = Similarity.kmeansFitTrace(s, unit, k = 8, maxIter = 6, tol = 0.0)
    // planted blobs: unit axis pairs per blob, deterministic spread
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val blobPts = for (j <- 0 until 3; i <- 0 until 20) yield {
      val a = Array.fill(dim)(0f)
      a(2 * j) = 1f
      a(2 * j + 1) = 0.05f * (i % 5)
      (j * 100L + i, j, a)
    }
    val blobDf = blobPts.toDF("vec_id", "blob", "embedding")
    val (bCentroids, _) = Similarity.kmeansFitTrace(s, blobDf, k = 3, maxIter = 5)
    val cells = Similarity.kmeansAssign(s, blobDf, bCentroids)
      .select("blob", "cell").collect().map(r => (r.getInt(0), r.getLong(1)))
    val byBlob = cells.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val blobsPure =
      if (byBlob.values.forall(_.length == 1) &&
        byBlob.values.flatten.toSeq.distinct.length == 3) 3 else 0
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(a.length, b.length)) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    val blobMeans = blobPts.groupBy(_._2).view.mapValues { pts =>
      val m = Array.fill(dim)(0f)
      pts.foreach(p => (0 until dim).foreach(i => m(i) += p._3(i) / pts.length))
      m
    }.toMap
    val blobsRecovered = (0 until 3).count { j =>
      byBlob.get(j).exists(cs =>
        cs.length == 1 && cos(bCentroids(cs.head.toInt), blobMeans(j)) >= 0.99)
    }
    val rows = trace.zipWithIndex.map { case (inertia, t) =>
      val ok = t == 0 || inertia <= trace(t - 1) + 1e-9
      (t + 1, BigDecimal(inertia).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, ok)
    }
    val nViolations = rows.count(!_._3)
    rows.toSeq.toDF("iter", "inertia", "monotone_ok")
      .withColumn("n_violations", lit(nViolations))
      .withColumn("blobs_pure", lit(blobsPure))
      .withColumn("blobs_recovered", lit(blobsRecovered))
      .orderBy("iter")
  }

  /** IVF answered from a PERSISTED index (closes the "pre-built
    * bucketed table" promise): the index — centroids + cell-bucketed
    * postings — is written once via [[Similarity.writeIvfIndex]], then
    * the query plan contains NO index-build stage: centroids load from
    * the catalog, the postings scan bucket-prunes to the probed cells,
    * and the postings side joins without an Exchange (ScaleSpec
    * plan-asserted). Same sampled-seed centroids as q43, so the result
    * — and its in-row recall_vs_exact — matches the inline path
    * exactly; the rows-only guarantee is that equality plus recall. */
  def q101IvfIndex(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    Similarity.writeIvfIndex(s, emb, "graft_ivf_emb", nCentroids = 16, buckets = 8)
    Similarity.recallVsExact(
        Similarity.ivfTopKFromIndex(s, "graft_ivf_emb", q, k = 10, nProbe = 4),
        Similarity.bruteForceTopK(s, emb, q, k = 10), k = 10)
      .orderBy("query_id", "rank")
  }

  /** IVF index APPEND lifecycle (daily-ingest shape, the vector twin
    * of q108's LSH append): build the persisted index, probe, append a
    * batch of exact copies of the query vectors under SHIFTED ids
    * against the frozen centroids, probe again. Rows-only but
    * guarantee-carrying by construction:
    *
    *  - `pre_copies` = 0 — before the append, no shifted-id vector can
    *    appear (it is not in the index).
    *  - `copies_found` = nQueries — an exact copy has cosine 1.0 and is
    *    assigned (frozen centroids, deterministic nearest-cell) to the
    *    SAME cell its source query probes first, so after the append
    *    every probe must surface its copy at sim = 1.0.
    *
    * The append itself is one map-side assignment pass + one bucketed
    * write of the batch only — probes after it keep bucket pruning and
    * the exchange-free postings join (ScaleSpec-asserted for the same
    * writer). */
  def q110IvfAppend(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    Similarity.writeIvfIndex(s, emb, "graft_ivf_q110", nCentroids = 16, buckets = 8)
    val pre = Similarity.ivfTopKFromIndex(s, "graft_ivf_q110", q, k = 10, nProbe = 4)
      .withColumn("phase", lit(1)).transform(Pin.snapshot) // snapshot BEFORE the index append mutates what it read
    val batch = q.select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(s, batch, "graft_ivf_q110")
    val post = Similarity.ivfTopKFromIndex(s, "graft_ivf_q110", q, k = 10, nProbe = 4)
      .withColumn("phase", lit(2)).transform(Pin.eager)
    val all = pre.unionByName(post)
    val guarantee = all.agg(
      sum(when(col("phase") === 1 && col("vec_id") >= 1000000L, 1).otherwise(0))
        .as("pre_copies"),
      sum(when(col("phase") === 2 && col("vec_id") === col("query_id") + 1000000L &&
          col("sim") === 1.0, 1).otherwise(0))
        .as("copies_found"))
    all.crossJoin(broadcast(guarantee)).orderBy("phase", "query_id", "rank")
  }

  /** Signed-random-projection dimensionality reduction (64-d float →
    * 16-d, Charikar/Achlioptas — see [[org.apache.spark.sql.catalyst
    * .expressions.graft.SrpProject]]): the JL-style compression step a
    * training-data pipeline runs before storing or bucketing
    * embeddings. FULL hash oracle — the ±1 hyperplanes derive from the
    * engine's md5 parity idiom, which DuckDB replicates exactly, and
    * both engines fold the 64 products in ascending-index order
    * (identical double arithmetic; the projection is an aggregated sum
    * → rounded 6 per discipline). Map-side only: no shuffle, no UDF,
    * one native expression per row. */
  def q111RandomProjection(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(
          expr("transform(srp_project(embedding, 16), z -> round(z, 6))"))
        .as(Seq("pos", "z")))
      .select(col("vec_id"), (col("pos") + 1).as("dim"), col("z"))
      .orderBy("vec_id", "dim")
  }

  /** ANN top-10 in the COMPRESSED domain: rank by Hamming distance
    * between 16-bit SRP sign codes (bit j = sign of q111's projection),
    * tie-break vec_id, with the exact cosine similarity annotated per
    * retrieved pair. The scale story: the scan side touches a 16-bit
    * code (512× smaller than the 64-float vector); exact vectors are
    * read only for the retrieved candidates. FULL hash oracle — the
    * first ANN query that is hash-checkable rather than rows-only:
    * codes are deterministic md5-parity arithmetic, and the bit
    * thresholds the ROUNDED projection (the value q111 proves equal
    * across engines) so a borderline-zero component cannot flip a bit
    * on one engine only. */
  def q112SrpHammingTopK(s: SparkSession, d: String): DataFrame = {
    // the 16 sign bits packed into ONE int by the native band-pack
    // expression; Hamming distance is then codegen'd bit_count(xor) —
    // no interpreted HOFs anywhere in the corpus × queries hot loop
    val coded = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("srp_band_keys(embedding, 16, 16)[0]").as("code"))
    val qs = broadcast(coded.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("code").as("q_code")))
    val scored = coded.crossJoin(qs)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", expr("bit_count(code ^ q_code)"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
    val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"), col("hamming"), col("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Product-quantization ADC search with exact re-rank (Jégou et al.
    * 2011, ADC+R): codebooks trained in-query (m=8 subspaces × ks=16
    * codes — a 32× corpus shrink at d=64), queries shortlist 50
    * candidates via per-query dot tables + m-lookup ADC scoring, then
    * only the shortlist pays a full-precision cosine. Rows-only but
    * doubly guarantee-carrying, both in-row: `recall_vs_exact` against
    * the brute-force ranking, and `n_planted_top1` — three exact
    * duplicates of query vectors planted in the corpus share their
    * query's codes, score at the query's own reconstruction dot in the
    * ADC stage and at cosine 1 in the re-rank, so each must win rank 1. */
  def q119PqAdc(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") < NQueries)
    val planted = q.filter(col("vec_id") < 3)
      .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    // tol = 0.0 pins the Lloyd round count for the oracle unroll (the
    // q90/q100 determinism discipline): the loop runs all 5 rounds or
    // stops at an exact fixed point where further rounds are identities
    val books = Similarity.pqFit(s, corpus, m = 8, ks = 16, maxIter = 5, tol = 0.0)
    val approx = Similarity.pqTopKRerank(s, corpus, q, books, k = 10, shortlist = 50)
    val exact = Similarity.bruteForceTopK(s, corpus, q, k = 10)
    val top1 = approx.filter(col("rank") === 1 && col("query_id") < 3)
      .withColumn("hit1", (col("vec_id") === col("query_id") + 10000000L).cast("int"))
    val g = top1.agg(sum("hit1").as("n_planted_top1"))
    Similarity.recallVsExact(approx, exact, 10)
      .crossJoin(broadcast(g))
      .select(col("query_id"), col("vec_id"), col("sim"), col("adc"), col("rank"),
        col("in_exact"), col("recall_vs_exact"), col("n_planted_top1"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed hard-negative mining — the SCALE PATH the brute-force
    * q272 documents: probes meet the corpus only inside shared SRP
    * band buckets (32-bit sign code → 4 bands × 8 bits), so candidate
    * volume is Σ bucket-pair sizes instead of |batch|·|corpus|; exact
    * cosines run on candidates only, and each probe's rows carry the
    * different-label candidate count plus recall against the exact
    * brute-force top-5 (the q35/q43/q119 in-row audit — testing-mode:
    * a production run drops the audit join and with it the one
    * brute-force pass). The ambient recall on the synthetic corpus is
    * intrinsically low — near-uniform random vectors are the hard case
    * for any sublinear ANN (no clusters for the bands to exploit), so
    * the MECHANISM guarantee is planted: two exact-duplicate clones of
    * probes 0 and 20 (different label, ids −1/−2) share their probe's
    * code, collide in EVERY band, and must surface at rank 1 with
    * sim 1.0. FULL hash oracle: codes are the q111/q112 md5-parity
    * arithmetic on ROUNDED projections, band packing is an integer
    * fold, ranking ties break on vec_id, and the plants are the same
    * rows in both engines. */
  def q280HardNegativesLsh(s: SparkSession, d: String): DataFrame = {
    val pinned = col("vec_id") % 20 === 0 && col("vec_id") < 20480
    val raw = Tables.embeddings(s, d)
    val plants = raw.filter(col("vec_id") === 0 || col("vec_id") === 20)
      .select((-(col("vec_id") / lit(20L)).cast("long") - 1).as("vec_id"),
        col("embedding"), (col("label") + 1).as("label"))
    val emb = raw.select("vec_id", "embedding", "label").unionByName(plants)
    // native one-pass band packing — bit-identical to the interpreted
    // transform/aggregate HOF chain it replaced (the q260 lesson)
    val banded = emb
      .select(col("vec_id"), posexplode(expr("srp_band_keys(embedding, 32, 8)"))
        .as(Seq("band", "bkey")))
    val probeBands = banded.filter(pinned)
      .select(col("vec_id").as("q_id"), col("band"), col("bkey"))
    val candIds = banded.join(probeBands, Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val probes = broadcast(emb.filter(pinned)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb")))
    val scored = candIds
      .join(emb.select(col("vec_id"), col("label"), col("embedding")), Seq("vec_id"))
      .join(probes, Seq("q_id"))
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .select("q_id", "vec_id", "label", "sim")
      .transform(Pin.eager) // feeds both the count and the ranking
    val nCand = scored.groupBy("q_id").agg(count(lit(1)).as("n_candidates"))
    val top = scored.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
    val exact = emb.crossJoin(probes)
      .filter(col("label") =!= col("q_label"))
      .withColumn("sim", round(expr("cosine_sim(embedding, q_emb)"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("vec_id"), lit(1).as("hit"))
    top.join(broadcast(exact), Seq("q_id", "vec_id"), "left")
      .join(broadcast(nCand), Seq("q_id"))
      .withColumn("recall_vs_exact", round(
        sum(coalesce(col("hit"), lit(0))).over(Window.partitionBy("q_id")) / 5.0, 2))
      .select(col("q_id"), col("rank"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("sim"), col("n_candidates"),
        col("recall_vs_exact"))
      .orderBy("q_id", "rank")
  }

  /** Int8-quantized brute-force top-10: corpus vectors scalar-quantized
    * (4× memory shrink), ranked by cosine over the DEQUANTIZED vectors,
    * with the float-exact similarity and its quantization error beside
    * each hit. Fully oracle-checked — quantization is deterministic
    * arithmetic DuckDB replicates exactly — and self-evidencing
    * (sim_err shows the precision cost of the 4× shrink in-row). */
  def q66QuantizedKnn(s: SparkSession, d: String): DataFrame = {
    val qz = Similarity.quantizeInt8(Tables.embeddings(s, d))
      .withColumn("deq", expr("transform(q_vec, v -> v * q_scale)"))
    val queries = broadcast(qz.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("deq").as("q_deq")))
    val scored = qz.select(col("vec_id"), col("embedding"), col("deq"))
      .crossJoin(queries)
      .filter(col("vec_id") =!= col("query_id"))
      // native codegen expression on BOTH scores (the double-array
      // overload exists for dequantized vectors) — no interpreted
      // higher-order folds in the hot loop
      .withColumn("qsim", expr("cosine_sim(deq, q_deq)"))
      .withColumn("sim", expr("cosine_sim(embedding, q_emb)"))
    val w = Window.partitionBy("query_id")
      .orderBy(round(col("qsim"), 6).desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"), col("rank"),
        round(col("qsim"), 6).as("qsim"), round(col("sim"), 6).as("sim"),
        round(abs(col("qsim") - col("sim")), 6).as("sim_err"))
      .orderBy("query_id", "rank")
  }

  /** Per-label embedding centroids (element-wise mean) — the vector
    * aggregation behind nearest-centroid classification and IVF
    * training, via the native `vec_sum` aggregate
    * ([[org.apache.spark.sql.catalyst.expressions.graft.VectorSum]]).
    * The shuffle carries one d-length partial per (label, partition)
    * instead of rows×d exploded index pairs — at production embedding
    * widths (1536+) the explode alternative multiplies the shuffle by
    * the dimension; `vec_sum` keeps it at groups×d. The tiny
    * (labels × d) mean is exploded only AFTER aggregation for the
    * tabular output. */
  def q70LabelCentroids(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .groupBy("label")
      .agg(expr("vec_sum(embedding)").as("vsum"), count(lit(1)).as("n"))
      .select(col("label"), posexplode(expr("transform(vsum, x -> x / n)")).as(Seq("pos", "m")))
      .select(col("label"), (col("pos") + 1).as("dim"), round(col("m"), 6).as("centroid"))
      .orderBy("label", "dim")
  }

  /** Cosine-silhouette cluster-quality audit over the labeled
    * embeddings ([[Similarity.silhouette]]): per label, mean distance
    * to the own centroid (a), to the nearest other centroid (b), the
    * silhouette s = (b − a)/max(a, b), and the count of points closer
    * to a foreign centroid. Full hash oracle — float-cast centroids
    * (q100 discipline) + round-6 similarity comparisons (q90
    * discipline) make a/b/s reproducible doubles on both engines;
    * avg is the house rounded-aggregate residual at 4 dp. */
  def q295Silhouette(s: SparkSession, d: String): DataFrame =
    Similarity.silhouette(s, Tables.embeddings(s, d))

  /** Full DuckDB replay of q100's Lloyd chain (r9 verdict item 7 —
    * the attempt succeeded): all six corpus iterations AND the
    * planted-blob fit are unrolled as CTEs, the BPE-oracle discipline
    * applied to a float-iterative trainer. Why this is cross-engine
    * exact despite floats: every per-row reduction (norms, dots) is a
    * SEQUENTIAL left fold over the 64 dims via `list_reduce`,
    * matching the engine's element-order loops bit for bit; the only
    * order-nondeterministic sums are the cross-ROW per-cell vector
    * sums and the final objective sum, whose ~1e-13 accumulation
    * noise sits seven orders below the float-cast centroid ulp and
    * six below the round(·,6) output contract (measured: all six
    * inertia values match at 6 decimals). Seeds: Spark's
    * percentile_approx at accuracy 10000 is EXACT here (n ≤ buffer)
    * and equals DuckDB's quantile_disc (verified empirically). The
    * blob fit reaches its fixed point at round 2 (assignment is
    * blob-pure from round 1 — one seed per blob, cross-blob cosine
    * 0 — and blob means reproduce themselves), so two unrolled rounds
    * ARE the converged tol=1e-4 loop. dim = 64 per TESTDATA.md. */
  private lazy val kmeansTraceOracleSql: String = {
    val D = 64
    def dot(a: String, b: String): String =
      s"list_reduce(list_transform(range(1, ${D + 1}), i -> CAST($a[i] AS DOUBLE) * $b[i]), (x, y) -> x + y)"
    val seedQs = (0 until 8).map(i => s"quantile_disc(vec_id, ${(i + 0.5) / 8})").mkString(", ")
    def corpusIter(t: Int): String =
      s""",
         |a$t AS (
         |  SELECT vec_id, cell, e FROM (
         |    SELECT u.vec_id, c.cell, u.e,
         |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
         |        (CASE WHEN u.na = 0 OR c.nb = 0 THEN 0.0
         |              ELSE ${dot("u.e", "c.c")} / sqrt(u.na * c.nb) END) DESC,
         |        c.cell DESC) AS rn
         |    FROM u CROSS JOIN (SELECT cell, c, ${dot("c", "c")} AS nb FROM c${t - 1}) c
         |  ) WHERE rn = 1),
         |s$t AS (
         |  SELECT cell, max(cnt) AS n, list(s ORDER BY pos) AS vsum FROM (
         |    SELECT cell, pos, sum(CAST(e[pos] AS DOUBLE)) AS s, count(*) AS cnt
         |    FROM a$t, range(1, ${D + 1}) r(pos) GROUP BY cell, pos)
         |  GROUP BY cell),
         |o$t AS (
         |  SELECT sum(CASE WHEN c.nrm = 0.0 THEN s.n
         |                  ELSE s.n - ${dot("s.vsum", "c.c")} / sqrt(c.nrm) END) AS obj
         |  FROM s$t s JOIN (SELECT cell, c, ${dot("c", "c")} AS nrm FROM c${t - 1}) c USING (cell)),
         |c$t AS (
         |  SELECT cell, list_transform(range(1, ${D + 1}), i -> CAST(vsum[i] / n AS FLOAT)) AS c
         |  FROM s$t)""".stripMargin
    def blobIter(t: Int): String =
      s""",
         |ba$t AS (
         |  SELECT vec_id, blob, cell, e FROM (
         |    SELECT u.vec_id, u.blob, c.cell, u.e,
         |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
         |        (CASE WHEN u.na = 0 OR c.nb = 0 THEN 0.0
         |              ELSE ${dot("u.e", "c.c")} / sqrt(u.na * c.nb) END) DESC,
         |        c.cell DESC) AS rn
         |    FROM bu u CROSS JOIN (SELECT cell, c, ${dot("c", "c")} AS nb FROM bc${t - 1}) c
         |  ) WHERE rn = 1),
         |bs$t AS (
         |  SELECT cell, max(cnt) AS n, list(s ORDER BY pos) AS vsum FROM (
         |    SELECT cell, pos, sum(CAST(e[pos] AS DOUBLE)) AS s, count(*) AS cnt
         |    FROM ba$t, range(1, ${D + 1}) r(pos) GROUP BY cell, pos)
         |  GROUP BY cell),
         |bc$t AS (
         |  SELECT cell, list_transform(range(1, ${D + 1}), i -> CAST(vsum[i] / n AS FLOAT)) AS c
         |  FROM bs$t)""".stripMargin
    val blobPoint =
      s"""list_transform(range(1, ${D + 1}), p ->
         |      CAST(CASE WHEN p = 2*j + 1 THEN 1.0
         |                WHEN p = 2*j + 2 THEN CAST(0.05 AS FLOAT) * (i % 5)
         |                ELSE 0.0 END AS FLOAT))""".stripMargin
    s"""WITH u0 AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x / sqrt(n2) AS FLOAT)) AS e
       |  FROM (SELECT vec_id, embedding,
       |          list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
       |                      (a, b) -> a + b) AS n2
       |        FROM embeddings)
       |  WHERE n2 > 0),
       |u AS (SELECT vec_id, e, ${dot("e", "e")} AS na FROM u0),
       |seeds AS (
       |  SELECT list_sort(list(DISTINCT s)) AS sids FROM (
       |    SELECT unnest([$seedQs]) AS s FROM u0)),
       |c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY u0.vec_id) - 1 AS BIGINT) AS cell, u0.e AS c
       |  FROM u0, seeds WHERE list_contains(seeds.sids, u0.vec_id))""".stripMargin +
      (1 to 6).map(corpusIter).mkString +
      s""",
         |tr AS (${(1 to 6).map(t => s"SELECT $t AS it, (SELECT obj FROM o$t) AS obj")
        .mkString("\n|  UNION ALL ")}),
         |trv AS (
         |  SELECT it, obj,
         |    (lag(obj) OVER (ORDER BY it) IS NULL OR
         |     obj <= lag(obj) OVER (ORDER BY it) + 1e-9) AS ok
         |  FROM tr),
         |bp AS (
         |  SELECT j * 100 + i AS vec_id, j AS blob,
         |    $blobPoint AS e
         |  FROM range(0, 3) t1(j), range(0, 20) t2(i)),
         |bu AS (SELECT vec_id, blob, e, ${dot("e", "e")} AS na FROM bp),
         |bseeds AS (
         |  SELECT list_sort(list(DISTINCT s)) AS sids FROM (
         |    SELECT unnest([quantile_disc(vec_id, ${0.5 / 3}), quantile_disc(vec_id, ${1.5 / 3}),
         |                   quantile_disc(vec_id, ${2.5 / 3})]) AS s FROM bp)),
         |bc0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY bp.vec_id) - 1 AS BIGINT) AS cell, bp.e AS c
         |  FROM bp, bseeds WHERE list_contains(bseeds.sids, bp.vec_id))""".stripMargin +
      (1 to 2).map(blobIter).mkString +
      s""",
         |bassign AS (
         |  SELECT blob, cell FROM (
         |    SELECT u.vec_id, u.blob, c.cell,
         |      row_number() OVER (PARTITION BY u.vec_id ORDER BY
         |        (CASE WHEN u.na = 0 OR c.nb = 0 THEN 0.0
         |              ELSE ${dot("u.e", "c.c")} / sqrt(u.na * c.nb) END) DESC,
         |        c.cell DESC) AS rn
         |    FROM bu u CROSS JOIN (SELECT cell, c, ${dot("c", "c")} AS nb FROM bc2) c
         |  ) WHERE rn = 1),
         |bybl AS (SELECT blob, list_sort(list(DISTINCT cell)) AS cells FROM bassign GROUP BY blob),
         |purity AS (
         |  SELECT CASE WHEN (SELECT bool_and(len(cells) = 1) FROM bybl)
         |           AND (SELECT count(DISTINCT cells[1]) FROM bybl WHERE len(cells) = 1) = 3
         |         THEN 3 ELSE 0 END AS blobs_pure),
         |bmeans AS (
         |  SELECT j AS blob,
         |    list_transform(range(1, ${D + 1}), p ->
         |      list_reduce(list_transform(range(0, 20), i ->
         |        CAST(CAST(CASE WHEN p = 2*j + 1 THEN 1.0
         |                       WHEN p = 2*j + 2 THEN CAST(0.05 AS FLOAT) * (i % 5)
         |                       ELSE 0.0 END AS FLOAT) / 20 AS FLOAT)),
         |        (a, b) -> CAST(a + b AS FLOAT))) AS m
         |  FROM range(0, 3) t(j)),
         |recov AS (
         |  SELECT count(*) AS blobs_recovered FROM bybl b
         |  JOIN bmeans m ON b.blob = m.blob
         |  JOIN bc2 c ON len(b.cells) = 1 AND c.cell = b.cells[1]
         |  WHERE (CASE WHEN ${dot("c.c", "c.c")} = 0 OR ${dot("m.m", "m.m")} = 0 THEN 0.0
         |         ELSE ${dot("c.c", "m.m")} / sqrt(${dot("c.c", "c.c")} * ${dot("m.m", "m.m")}) END) >= 0.99)
         |SELECT CAST(it AS INT) AS iter, round(obj, 6) AS inertia, ok AS monotone_ok,
         |  CAST((SELECT count(*) FROM trv WHERE NOT ok) AS INT) AS n_violations,
         |  CAST((SELECT blobs_pure FROM purity) AS INT) AS blobs_pure,
         |  CAST((SELECT blobs_recovered FROM recov) AS INT) AS blobs_recovered
         |FROM trv ORDER BY iter""".stripMargin
  }

  /** Shared IVF restatement for q43 (inline) and q101 (persisted
    * index): 16 sampled-seed centroids (trainIters = 0, so seeds ARE
    * the centroids) via the ceil(q·n) rank rule, raw-cosine cells and
    * probes with the (s DESC, cid DESC) NearestCells tie, candidate
    * top-10 on 6-dp-rounded sims, and the brute-force recall join. */
  private lazy val ivfRecallOracleSql: String =
    s"""WITH nrow AS (SELECT count(*) AS n FROM embeddings),
       |rk AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS r
       |  FROM embeddings),
       |cids AS (
       |  SELECT DISTINCT rk.vec_id AS cid
       |  FROM rk CROSS JOIN nrow
       |  JOIN (SELECT unnest(range(0, 16)) AS i) ii
       |    ON rk.r = CAST(ceil((2 * ii.i + 1) / 32.0 * nrow.n) AS BIGINT)),
       |cent AS (
       |  SELECT c.cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |  FROM cids c JOIN embeddings e ON e.vec_id = c.cid),
       |sims AS (
       |  SELECT e.vec_id, c.cid,
       |    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cv) AS s
       |  FROM embeddings e CROSS JOIN cent c),
       |cells AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid DESC) AS rr
       |    FROM sims) WHERE rr = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid DESC) AS rr
       |    FROM sims WHERE vec_id < $NQueries) x WHERE rr <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, ce.vec_id
       |  FROM probes p JOIN cells ce ON ce.cell = p.cell
       |  WHERE ce.vec_id <> p.query_id),
       |scored AS (
       |  SELECT c.query_id, c.vec_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(qe.embedding AS DOUBLE[])), 6) AS sim
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN embeddings qe ON qe.vec_id = c.query_id),
       |ivf AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, vec_id) AS INT) AS rank
       |  FROM scored QUALIFY rank <= 10),
       |ex AS (
       |  SELECT q.vec_id AS query_id, e.vec_id,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |      CAST(q.embedding AS DOUBLE[])), 6) AS sim
       |  FROM embeddings e CROSS JOIN embeddings q
       |  WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
       |ext AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, vec_id) AS r
       |    FROM ex) WHERE r <= 10),
       |en AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       |  FROM ext GROUP BY 1),
       |j AS (
       |  SELECT l.query_id, l.vec_id, l.sim, l.rank,
       |    CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
       |  FROM ivf l LEFT JOIN ext e2
       |    ON e2.query_id = l.query_id AND e2.vec_id = l.vec_id)
       |SELECT j.query_id, j.vec_id, j.sim, j.rank, j.in_exact,
       |  round(sum(j.in_exact) OVER (PARTITION BY j.query_id) * 1.0
       |    / en.n_exact, 2) AS recall_vs_exact
       |FROM j JOIN en USING (query_id)
       |ORDER BY query_id, rank""".stripMargin

  /** q110's append lifecycle, fully restated (r11 verdict item 2's
    * cascade — the first of the three centroid-consuming no_oracles to
    * flip): the SAME frozen sampled-seed centroids, phase-1 ranking
    * over the pre-append corpus, phase-2 over corpus ∪ shifted-id
    * copies (assigned with the frozen centroids, exactly
    * appendToIvfIndex's pass), and the two engine guarantees restated
    * as aggregates over the unioned phases. */
  private lazy val ivfAppendOracleSql: String =
    s"""WITH nrow AS (SELECT count(*) AS n FROM embeddings),
       |rk AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS r
       |  FROM embeddings),
       |cids AS (
       |  SELECT DISTINCT rk.vec_id AS cid
       |  FROM rk CROSS JOIN nrow
       |  JOIN (SELECT unnest(range(0, 16)) AS i) ii
       |    ON rk.r = CAST(ceil((2 * ii.i + 1) / 32.0 * nrow.n) AS BIGINT)),
       |cent AS (
       |  SELECT c.cid, CAST(e.embedding AS DOUBLE[]) AS cv
       |  FROM cids c JOIN embeddings e ON e.vec_id = c.cid),
       |allv AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, 1 AS in_pre
       |  FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[]), 0
       |  FROM embeddings WHERE vec_id < $NQueries),
       |sims AS (
       |  SELECT v.vec_id, v.in_pre, c.cid,
       |    list_cosine_similarity(v.e, c.cv) AS s
       |  FROM allv v CROSS JOIN cent c),
       |cells AS (
       |  SELECT vec_id, in_pre, cid AS cell FROM (
       |    SELECT vec_id, in_pre, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid DESC) AS rr
       |    FROM sims) WHERE rr = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY s DESC, cid DESC) AS rr
       |    FROM sims WHERE vec_id < $NQueries AND in_pre = 1) x WHERE rr <= 4),
       |scoredall AS (
       |  SELECT DISTINCT p.query_id, ce.vec_id, ce.in_pre,
       |    round(list_cosine_similarity(e.e, qe.e), 6) AS sim
       |  FROM probes p JOIN cells ce ON ce.cell = p.cell
       |    AND ce.vec_id <> p.query_id
       |  JOIN allv e ON e.vec_id = ce.vec_id AND e.in_pre = ce.in_pre
       |  JOIN allv qe ON qe.vec_id = p.query_id AND qe.in_pre = 1),
       |ph1 AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, vec_id) AS INT) AS rank,
       |    1 AS phase
       |  FROM scoredall WHERE in_pre = 1 QUALIFY rank <= 10),
       |ph2 AS (
       |  SELECT query_id, vec_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, vec_id) AS INT) AS rank,
       |    2 AS phase
       |  FROM scoredall QUALIFY rank <= 10),
       |uni AS (SELECT * FROM ph1 UNION ALL SELECT * FROM ph2),
       |g AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN phase = 1 AND vec_id >= 1000000
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS pre_copies,
       |    CAST(coalesce(sum(CASE WHEN phase = 2
       |      AND vec_id = query_id + 1000000 AND sim = 1.0
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS copies_found
       |  FROM uni)
       |SELECT u.query_id, u.vec_id, u.sim, u.rank, u.phase,
       |  g.pre_copies, g.copies_found
       |FROM uni u CROSS JOIN g
       |ORDER BY phase, query_id, rank""".stripMargin

  /** q119's full PQ-ADC replay (the last of the r11 cascade): seeds
    * via ceil(q·n) over the corpus-with-plants id spine, codebook init
    * by subspace slicing, five unrolled per-subspace Lloyd rounds
    * (squared-L2 argmin with the strict-< lowest-code tie = ORDER BY
    * d ASC, code ASC; float-cast means; empty codes carry forward),
    * final encode, query dot tables, ADC as a SEQUENTIAL sub-order
    * fold (PqAdcLookup's loop), shortlist-50 on the 6-dp-rounded ADC,
    * exact-cosine re-rank, and the recall + planted-top1 audits. All
    * per-row folds are sequential list_reduce over the 8-dim
    * subspaces — bit-identical to the engine's primitive loops. */
  private lazy val pqAdcOracleSql: String = {
    def dist(v: String, b: String): String =
      s"""list_reduce(list_transform(range(1, 9),
         |          j -> ($v.e[$b.sub * 8 + j] - $b.cv[j])
         |             * ($v.e[$b.sub * 8 + j] - $b.cv[j])),
         |          (a, b2) -> a + b2)""".stripMargin
    def lloydIter(t: Int): String =
      s""",
         |g$t AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT v.vec_id, b.sub, b.code,
         |      row_number() OVER (PARTITION BY v.vec_id, b.sub ORDER BY
         |        ${dist("v", "b")} ASC, b.code ASC) AS rn
         |    FROM corpus v CROSS JOIN b${t - 1} b) WHERE rn = 1),
         |s$t AS (
         |  SELECT sub, code, max(cnt) AS n, list(sm ORDER BY pos) AS vsum FROM (
         |    SELECT g.sub, g.code, r2.pos,
         |      sum(v.e[g.sub * 8 + r2.pos]) AS sm, count(*) AS cnt
         |    FROM g$t g JOIN corpus v USING (vec_id), range(1, 9) r2(pos)
         |    GROUP BY g.sub, g.code, r2.pos)
         |  GROUP BY sub, code),
         |b$t AS (
         |  SELECT p.sub, p.code,
         |    CASE WHEN s.code IS NULL THEN p.cv
         |         ELSE CAST(list_transform(range(1, 9),
         |                j -> CAST(s.vsum[j] / s.n AS FLOAT)) AS DOUBLE[]) END AS cv
         |  FROM b${t - 1} p LEFT JOIN s$t s
         |    ON s.sub = p.sub AND s.code = p.code)""".stripMargin
    s"""WITH corpus AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000000, CAST(embedding AS DOUBLE[])
       |  FROM embeddings WHERE vec_id < 3),
       |nrow AS (SELECT count(*) AS n FROM corpus),
       |rk AS (SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS r
       |  FROM corpus),
       |sv AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, e
       |  FROM (
       |    SELECT DISTINCT rk.vec_id, rk.e
       |    FROM rk CROSS JOIN nrow
       |    JOIN (SELECT unnest(range(0, 16)) AS i) ii
       |      ON rk.r = CAST(ceil((2 * ii.i + 1) / 32.0 * nrow.n) AS BIGINT))),
       |b0 AS (
       |  SELECT ss.s AS sub, sv.code,
       |    list_transform(range(1, 9), j -> sv.e[ss.s * 8 + j]) AS cv
       |  FROM sv CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss)""".stripMargin +
      (1 to 5).map(lloydIter).mkString +
      s""",
         |codes AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT v.vec_id, b.sub, b.code,
         |      row_number() OVER (PARTITION BY v.vec_id, b.sub ORDER BY
         |        ${dist("v", "b")} ASC, b.code ASC) AS rn
         |    FROM corpus v CROSS JOIN b5 b) WHERE rn = 1),
         |qtab AS (
         |  SELECT q.vec_id AS query_id, b.sub, b.code,
         |    list_reduce(list_transform(range(1, 9),
         |      j -> q.e[b.sub * 8 + j] * b.cv[j]), (a, b2) -> a + b2) AS dot
         |  FROM corpus q CROSS JOIN b5 b WHERE q.vec_id < $NQueries),
         |adc AS (
         |  SELECT query_id, vec_id,
         |    round(list_reduce(list(dot ORDER BY sub), (a, b2) -> a + b2), 6)
         |      AS adc
         |  FROM (
         |    SELECT t.query_id, c.vec_id, t.sub, t.dot
         |    FROM codes c JOIN qtab t ON t.sub = c.sub AND t.code = c.code
         |    WHERE c.vec_id <> t.query_id)
         |  GROUP BY query_id, vec_id),
         |short AS (
         |  SELECT query_id, vec_id, adc FROM (
         |    SELECT query_id, vec_id, adc, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
         |    FROM adc) WHERE rn <= 50),
         |rr AS (
         |  SELECT s2.query_id, s2.vec_id,
         |    round(list_cosine_similarity(v.e, q.e), 6) AS sim, s2.adc
         |  FROM short s2 JOIN corpus v ON v.vec_id = s2.vec_id
         |  JOIN corpus q ON q.vec_id = s2.query_id),
         |approx AS (
         |  SELECT query_id, vec_id, sim, adc,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id) AS INT) AS rank
         |  FROM rr QUALIFY rank <= 10),
         |ex AS (
         |  SELECT q.vec_id AS query_id, v.vec_id,
         |    round(list_cosine_similarity(v.e, q.e), 6) AS sim
         |  FROM corpus v CROSS JOIN corpus q
         |  WHERE q.vec_id < $NQueries AND v.vec_id <> q.vec_id),
         |ext AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS r
         |    FROM ex) WHERE r <= 10),
         |en AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ext GROUP BY 1),
         |j AS (
         |  SELECT a.query_id, a.vec_id, a.sim, a.adc, a.rank,
         |    CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
         |  FROM approx a LEFT JOIN ext e2
         |    ON e2.query_id = a.query_id AND e2.vec_id = a.vec_id),
         |gg AS (SELECT CAST(sum(CASE WHEN rank = 1 AND query_id < 3
         |      AND vec_id = query_id + 10000000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_planted_top1
         |  FROM j)
         |SELECT j.query_id, j.vec_id, j.sim, j.adc, j.rank, j.in_exact,
         |  round(sum(j.in_exact) OVER (PARTITION BY j.query_id) * 1.0
         |    / en.n_exact, 2) AS recall_vs_exact,
         |  gg.n_planted_top1
         |FROM j JOIN en USING (query_id) CROSS JOIN gg
         |ORDER BY query_id, rank""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q119_pq_adc", q119PqAdc, pqAdcOracleSql),
    // the full tiered stack restated: prefix slice → per-vector int8
    // quantize/dequantize (the q66 idiom) → coarse rounded-cosine
    // shortlist-50 → full-width rerank → recall + impostor audits
    QuerySpec("q289_tiered_retrieval", q289TieredRetrieval,
      s"""WITH emb0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |corpus AS (
         |  SELECT vec_id, e FROM emb0
         |  UNION ALL
         |  SELECT -77, list_concat(e[1:16], list_transform(e[17:64], x -> -x))
         |  FROM emb0 WHERE vec_id = 0),
         |qz AS (
         |  SELECT vec_id, e[1:16] AS p,
         |    list_max(list_transform(e[1:16], x -> abs(x))) / 127.0 AS q_scale
         |  FROM corpus),
         |dq AS (
         |  SELECT vec_id,
         |    CASE WHEN q_scale = 0 THEN list_transform(p, x -> 0.0)
         |    ELSE list_transform(p, x -> round(x / q_scale) * q_scale) END AS deq
         |  FROM qz),
         |q AS (
         |  SELECT vec_id AS query_id, deq AS q_deq
         |  FROM dq WHERE vec_id >= 0 AND vec_id < $NQueries),
         |coarse AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(CASE WHEN list_sum(list_transform(e.deq, x -> x * x)) = 0
         |      OR list_sum(list_transform(q.q_deq, x -> x * x)) = 0 THEN 0.0
         |    ELSE list_cosine_similarity(e.deq, q.q_deq) END, 6) AS sim16
         |  FROM dq e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |short AS (
         |  SELECT query_id, vec_id, sim16 FROM (
         |    SELECT query_id, vec_id, sim16, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim16 DESC, vec_id) AS crank
         |    FROM coarse) WHERE crank <= 50),
         |qf AS (
         |  SELECT vec_id AS query_id, e AS q_emb FROM emb0
         |  WHERE vec_id < $NQueries),
         |topr AS (
         |  SELECT query_id, vec_id, sim16, sim64,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim64 DESC, vec_id) AS INT) AS rank
         |  FROM (
         |    SELECT s.query_id, s.vec_id, s.sim16,
         |      round(list_cosine_similarity(v.e, qf.q_emb), 6) AS sim64
         |    FROM short s
         |    JOIN corpus v ON v.vec_id = s.vec_id
         |    JOIN qf ON qf.query_id = s.query_id)
         |  QUALIFY rank <= 10),
         |ex AS (
         |  SELECT qf.query_id, v.vec_id,
         |    round(list_cosine_similarity(v.e, qf.q_emb), 6) AS sim
         |  FROM corpus v CROSS JOIN qf WHERE v.vec_id <> qf.query_id),
         |ext AS (SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY sim DESC, vec_id) AS r
         |    FROM ex) WHERE r <= 10),
         |en AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ext GROUP BY 1),
         |j AS (
         |  SELECT t.query_id, t.rank, t.vec_id, t.sim16, t.sim64,
         |    CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
         |  FROM topr t LEFT JOIN ext e2
         |    ON e2.query_id = t.query_id AND e2.vec_id = t.vec_id),
         |ga AS (SELECT CAST(sum(CASE WHEN query_id = 0 AND vec_id = -77
         |    THEN 1 ELSE 0 END) AS BIGINT) AS impostor_shortlisted FROM short),
         |gb AS (SELECT CAST(sum(CASE WHEN vec_id = -77 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS impostor_in_top10 FROM topr)
         |SELECT j.query_id, j.rank, j.vec_id, j.sim16, j.sim64, j.in_exact,
         |  round(sum(j.in_exact) OVER (PARTITION BY j.query_id) * 1.0
         |    / en.n_exact, 2) AS recall_vs_exact,
         |  ga.impostor_shortlisted, gb.impostor_in_top10
         |FROM j JOIN en USING (query_id) CROSS JOIN ga CROSS JOIN gb
         |ORDER BY query_id, rank""".stripMargin),
    QuerySpec("q288_matryoshka", q288Matryoshka,
      s"""WITH e0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e64 FROM embeddings),
         |e AS (SELECT vec_id, e64, e64[1:16] AS e16 FROM e0),
         |q AS (
         |  SELECT vec_id AS query_id, e16 AS q16, e64 AS q64 FROM e
         |  WHERE vec_id < $NQueries),
         |ap AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(list_cosine_similarity(e.e16, q.q16), 6) AS sim16,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY round(list_cosine_similarity(e.e16, q.q16), 6) DESC,
         |        e.vec_id) AS INT) AS rank
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
         |  QUALIFY rank <= 10),
         |ex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY round(list_cosine_similarity(e.e64, q.q64), 6) DESC,
         |          e.vec_id) AS r
         |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id) t WHERE r <= 10),
         |nex AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY 1),
         |f AS (
         |  SELECT ap.query_id, ap.vec_id,
         |    round(list_cosine_similarity(e.e64, q.q64), 6) AS sim64
         |  FROM ap JOIN e ON e.vec_id = ap.vec_id
         |  JOIN q ON q.query_id = ap.query_id)
         |SELECT ap.query_id, ap.rank, ap.vec_id, ap.sim16, f.sim64,
         |  CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
         |  round(CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY ap.query_id) AS DOUBLE) / nex.n_exact, 2)
         |    AS recall_vs_exact
         |FROM ap
         |LEFT JOIN ex ON ex.query_id = ap.query_id AND ex.vec_id = ap.vec_id
         |JOIN nex ON nex.query_id = ap.query_id
         |JOIN f ON f.query_id = ap.query_id AND f.vec_id = ap.vec_id
         |ORDER BY ap.query_id, ap.rank""".stripMargin),
    // codes via the q111/q112 md5-parity idiom on ROUNDED projections;
    // band packing is the same integer left fold both engines run
    QuerySpec("q280_hard_negatives_lsh", q280HardNegativesLsh,
      """WITH base0 AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |base AS (
        |  SELECT * FROM base0
        |  UNION ALL
        |  SELECT -(vec_id // 20) - 1, label + 1, e FROM base0
        |  WHERE vec_id IN (0, 20)),
        |coded AS (
        |  SELECT vec_id,
        |    list_transform(range(1, 33), j ->
        |      CASE WHEN round(list_sum(list_transform(range(1, 65), i ->
        |        e[i] * CASE WHEN ('0x' || substr(md5('srp:' || i || ':' || j),
        |            1, 6))::BIGINT % 2 = 0
        |          THEN 1.0 ELSE -1.0 END)), 6) >= 0 THEN 1 ELSE 0 END) AS code
        |  FROM base),
        |banded AS (
        |  SELECT vec_id, b.band,
        |    list_reduce(list_prepend(0,
        |      code[(b.band * 8 + 1):(b.band * 8 + 8)]),
        |      (a, x) -> a * 2 + x) AS bkey
        |  FROM coded CROSS JOIN (SELECT unnest(range(0, 4)) AS band) b),
        |pb AS (
        |  SELECT vec_id AS q_id, band, bkey FROM banded
        |  WHERE vec_id % 20 = 0 AND vec_id < 20480),
        |cand AS (
        |  SELECT DISTINCT pb.q_id, banded.vec_id
        |  FROM banded JOIN pb ON banded.band = pb.band AND banded.bkey = pb.bkey
        |  WHERE banded.vec_id <> pb.q_id),
        |probes AS (
        |  SELECT vec_id AS q_id, label AS q_label, e AS q_emb FROM base
        |  WHERE vec_id % 20 = 0 AND vec_id < 20480),
        |scored AS (
        |  SELECT c.q_id, c.vec_id, b2.label,
        |    round(list_cosine_similarity(b2.e, p.q_emb), 6) AS sim
        |  FROM cand c
        |  JOIN base b2 ON b2.vec_id = c.vec_id
        |  JOIN probes p ON p.q_id = c.q_id
        |  WHERE b2.label <> p.q_label),
        |nc AS (SELECT q_id, count(*) AS n_candidates FROM scored GROUP BY 1),
        |top AS (
        |  SELECT q_id, vec_id, label, sim,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id)
        |      AS INT) AS rank
        |  FROM scored QUALIFY rank <= 5),
        |ex AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT p.q_id, b2.vec_id,
        |      row_number() OVER (PARTITION BY p.q_id ORDER BY
        |        round(list_cosine_similarity(b2.e, p.q_emb), 6) DESC,
        |        b2.vec_id) AS r
        |    FROM base b2 CROSS JOIN probes p
        |    WHERE b2.label <> p.q_label) WHERE r <= 5)
        |SELECT t.q_id, t.rank, t.vec_id AS neg_id, t.label AS neg_label, t.sim,
        |  nc.n_candidates,
        |  round(CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY t.q_id) AS DOUBLE) / 5.0, 2) AS recall_vs_exact
        |FROM top t
        |JOIN nc ON nc.q_id = t.q_id
        |LEFT JOIN ex ON ex.q_id = t.q_id AND ex.vec_id = t.vec_id
        |ORDER BY t.q_id, t.rank""".stripMargin),
    QuerySpec("q100_kmeans_trace", q100KmeansTrace, kmeansTraceOracleSql),
    QuerySpec("q70_label_centroids", q70LabelCentroids,
      """SELECT label, r.i AS dim,
        |  round(avg(CAST(embedding[r.i] AS DOUBLE)), 6) AS centroid
        |FROM embeddings CROSS JOIN range(1, 65) r(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // centroids float-cast (q100 discipline), similarities compared
    // only after round(·,6) (q90 discipline) — a/b/sil are identical
    // doubles on both engines; avg is the rounded-aggregate residual
    QuerySpec("q295_silhouette", q295Silhouette,
      """WITH c0 AS (
        |  SELECT label AS clabel, pos,
        |    sum(CAST(embedding[pos] AS DOUBLE)) AS sv, count(*) AS n
        |  FROM embeddings, range(1, 65) r(pos) GROUP BY 1, 2),
        |c AS (
        |  SELECT clabel, list(CAST(sv / n AS FLOAT) ORDER BY pos) AS cvec
        |  FROM c0 GROUP BY 1),
        |d AS (
        |  SELECT e.vec_id, e.label, c.clabel,
        |    1.0 - round(list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), CAST(c.cvec AS DOUBLE[])), 6) AS dist
        |  FROM embeddings e CROSS JOIN c),
        |ab AS (
        |  SELECT vec_id, label,
        |    max(CASE WHEN clabel = label THEN dist END) AS a,
        |    min(CASE WHEN clabel <> label THEN dist END) AS b
        |  FROM d GROUP BY 1, 2),
        |sil AS (
        |  SELECT label, a, b,
        |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
        |         ELSE 0.0 END AS s
        |  FROM ab)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_points,
        |  round(avg(a), 4) AS mean_intra,
        |  round(avg(b), 4) AS mean_nearest,
        |  round(avg(s), 4) AS silhouette,
        |  CAST(sum(CASE WHEN b < a THEN 1 ELSE 0 END) AS BIGINT) AS n_closer_other
        |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q66_quantized_knn", q66QuantizedKnn,
      s"""WITH qz AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0 AS q_scale
         |  FROM embeddings),
         |dq AS (
         |  SELECT vec_id, emb,
         |    CASE WHEN q_scale = 0 THEN list_transform(emb, x -> 0.0)
         |    ELSE list_transform(emb, x -> round(x / q_scale) * q_scale) END AS deq
         |  FROM qz),
         |q AS (
         |  SELECT vec_id AS query_id, emb AS q_emb, deq AS q_deq
         |  FROM dq WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    CASE WHEN list_sum(list_transform(e.deq, x -> x * x)) = 0
         |      OR list_sum(list_transform(q.q_deq, x -> x * x)) = 0 THEN 0.0
         |    ELSE list_cosine_similarity(e.deq, q.q_deq) END AS qsim_raw,
         |    list_cosine_similarity(e.emb, q.q_emb) AS sim_raw
         |  FROM dq e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id)
         |SELECT query_id, vec_id,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY round(qsim_raw, 6) DESC, vec_id) AS INT) AS rank,
         |  round(qsim_raw, 6) AS qsim, round(sim_raw, 6) AS sim,
         |  round(abs(qsim_raw - sim_raw), 6) AS sim_err
         |FROM scored
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    QuerySpec("q34_knn_bruteforce", q34KnnBruteForce,
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
         |  FROM embeddings WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.query_id, e.vec_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS sim
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id)
         |SELECT query_id, vec_id, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
         |FROM scored
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin),
    // the ±1 hyperplane is the engine's md5 idiom: parity of the first
    // 6 md5 hex chars of 'srp:i:j' — identical arithmetic to
    // SrpProject's matrix, folded in the same ascending-i order
    QuerySpec("q111_random_projection", q111RandomProjection,
      """SELECT vec_id, CAST(t.j AS INT) AS dim,
        |  round(list_sum(list_transform(range(1, 65), i ->
        |    CAST(embedding[i] AS DOUBLE) *
        |    CASE WHEN ('0x' || substr(md5('srp:' || i || ':' || t.j), 1, 6))::BIGINT % 2 = 0
        |      THEN 1.0 ELSE -1.0 END)), 6) AS z
        |FROM embeddings CROSS JOIN range(1, 17) t(j)
        |ORDER BY vec_id, dim""".stripMargin),
    // seeds via the rank rule over the id spine, cells/probes from raw
    // cosines with (sim DESC, cid DESC) ties, then the q35
    // candidate-top-10 + recall machinery;
    // shared by q43 (inline IVF) and q101 (the same search answered
    // from the persisted index — the engine guarantees, and the spec
    // asserts, bit-equality between the two paths, so one restatement
    // covers both). Seed rank rule is ceil(q·n) — the r12 q90 lesson:
    // ⌊q·n⌋+1 only agrees while q·n is non-integer.
    QuerySpec("q43_knn_ivf", q43KnnIvf, ivfRecallOracleSql),
    QuerySpec("q101_ivf_index", q101IvfIndex, ivfRecallOracleSql),
    QuerySpec("q110_ivf_append", q110IvfAppend, ivfAppendOracleSql),
    // the greedy MMR chain replayed exactly via a recursive CTE: the
    // per-step argmax runs on bit-identical doubles (6-dp-rounded
    // relevance scores, sequential normalized dots, the literal
    // (1.0 - 0.7) diversity weight), winners resolve with the same
    // (objective, min id) tie, and the emitted objective rounds at
    // 4 (see mmrRerank: immune to both the 7-dp decimal-half and the
    // vectorized-dot ulp hazards)
    QuerySpec("q94_mmr", q94Mmr,
      s"""WITH RECURSIVE base AS (
         |  SELECT q.vec_id AS query_id, e.vec_id AS id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.embedding AS DOUBLE[])), 6) AS score,
         |    CAST(e.embedding AS DOUBLE[]) AS emb
         |  FROM embeddings e CROSS JOIN embeddings q
         |  WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
         |top50 AS (
         |  SELECT query_id, id, score, emb FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, id) AS r FROM base) WHERE r <= 50),
         |norm AS (
         |  SELECT query_id, id, score,
         |    CASE WHEN nrm > 0 THEN list_transform(emb, x -> x / nrm)
         |         ELSE emb END AS v
         |  FROM (SELECT *,
         |      sqrt(list_sum(list_transform(emb, x -> x * x))) AS nrm
         |    FROM top50)),
         |t AS (
         |  SELECT query_id, id, score, v, CAST(-1.0 AS DOUBLE) AS maxsim,
         |    0 AS picked_rank, CAST(NULL AS DOUBLE) AS mmr_val, 0 AS step
         |  FROM norm
         |  UNION ALL
         |  SELECT query_id, id, score, v,
         |    CASE WHEN picked_rank > 0 OR id = wid THEN maxsim
         |         ELSE greatest(maxsim, list_dot_product(v, wv)) END,
         |    CASE WHEN picked_rank > 0 THEN picked_rank
         |         WHEN id = wid THEN step + 1 ELSE 0 END,
         |    CASE WHEN picked_rank > 0 THEN mmr_val
         |         WHEN id = wid THEN wemit ELSE NULL END,
         |    step + 1
         |  FROM (
         |    SELECT *,
         |      min(CASE WHEN obj = wobj THEN id END)
         |        OVER (PARTITION BY query_id) AS wid,
         |      max(CASE WHEN obj = wobj THEN v END)
         |        OVER (PARTITION BY query_id) AS wv,
         |      max(CASE WHEN obj = wobj AND step = 0 THEN 0.7 * score
         |               WHEN obj = wobj THEN obj END)
         |        OVER (PARTITION BY query_id) AS wemit
         |    FROM (
         |      SELECT *, max(obj) OVER (PARTITION BY query_id) AS wobj
         |      FROM (
         |        SELECT *, CASE WHEN picked_rank > 0 THEN NULL
         |          WHEN step = 0 THEN score
         |          ELSE 0.7 * score - (1.0 - 0.7) * maxsim END AS obj
         |        FROM t WHERE step < 10) z1) z2) z3),
         |fin AS (
         |  SELECT query_id, id AS vec_id, round(mmr_val, 4) AS mmr,
         |    CAST(picked_rank AS INT) AS rank
         |  FROM t WHERE step = 10 AND picked_rank > 0),
         |top1 AS (
         |  SELECT query_id, id FROM (
         |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, id) AS r FROM top50) WHERE r = 1),
         |fm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nf
         |  FROM fin f JOIN top1 x
         |    ON x.query_id = f.query_id AND x.id = f.vec_id
         |  WHERE f.rank = 1)
         |SELECT fin.query_id, fin.vec_id, fin.mmr, fin.rank,
         |  fm.nf AS n_first_matches_top1
         |FROM fin CROSS JOIN fm
         |ORDER BY query_id, rank""".stripMargin),
    // the full md5-SRP LSH restated: 8-bit buckets per table from
    // 6-dp projection signs, multiprobe = base bucket + all 1-bit
    // XOR flips, candidate top-10 by rounded sim, recall against the
    // brute-force restatement
    QuerySpec("q35_knn_lsh", q35KnnLsh,
      s"""WITH codes AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_transform(range(0, 8), t ->
         |      list_sum(list_transform(range(0, 8), b ->
         |        CASE WHEN round(list_sum(list_transform(range(1, 65), i ->
         |            CAST(embedding[i] AS DOUBLE) *
         |            CASE WHEN ('0x' || substr(md5('srp:' || i || ':'
         |                || (t * 8 + b + 1)), 1, 6))::BIGINT % 2 = 0
         |              THEN 1.0 ELSE -1.0 END)), 6) >= 0
         |          THEN (CAST(1 AS BIGINT) << b)
         |          ELSE CAST(0 AS BIGINT) END))) AS bks
         |  FROM embeddings),
         |ch AS (
         |  SELECT vec_id, emb, tt.t, bks[tt.t + 1] AS bucket
         |  FROM codes CROSS JOIN (SELECT unnest(range(0, 8)) AS t) tt),
         |qq AS (SELECT vec_id AS query_id, emb AS q_emb, bks AS q_bks
         |  FROM codes WHERE vec_id < $NQueries),
         |probes AS (
         |  SELECT query_id, q_emb, tt.t,
         |    unnest(list_distinct(list_prepend(q_bks[tt.t + 1],
         |      list_transform(range(0, 8), b2 ->
         |        xor(q_bks[tt.t + 1], (CAST(1 AS BIGINT) << b2))))))
         |      AS bucket
         |  FROM qq CROSS JOIN (SELECT unnest(range(0, 8)) AS t) tt),
         |cand AS (
         |  SELECT DISTINCT p.query_id, c.vec_id, p.q_emb, c.emb
         |  FROM probes p
         |  JOIN ch c ON c.t = p.t AND c.bucket = p.bucket
         |  WHERE c.vec_id <> p.query_id),
         |scored AS (
         |  SELECT query_id, vec_id,
         |    round(list_cosine_similarity(emb, q_emb), 6) AS sim
         |  FROM cand),
         |lsh AS (
         |  SELECT query_id, vec_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id) AS INT) AS rank
         |  FROM scored QUALIFY rank <= 10),
         |ex AS (
         |  SELECT q.vec_id AS query_id, e.vec_id,
         |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |      CAST(q.embedding AS DOUBLE[])), 6) AS sim
         |  FROM embeddings e CROSS JOIN embeddings q
         |  WHERE q.vec_id < $NQueries AND e.vec_id <> q.vec_id),
         |ext AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, vec_id) AS r
         |    FROM ex) WHERE r <= 10),
         |en AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM ext GROUP BY 1),
         |j AS (
         |  SELECT l.query_id, l.vec_id, l.sim, l.rank,
         |    CASE WHEN e2.vec_id IS NOT NULL THEN 1 ELSE 0 END AS in_exact
         |  FROM lsh l LEFT JOIN ext e2
         |    ON e2.query_id = l.query_id AND e2.vec_id = l.vec_id)
         |SELECT j.query_id, j.vec_id, j.sim, j.rank, j.in_exact,
         |  round(sum(j.in_exact) OVER (PARTITION BY j.query_id) * 1.0
         |    / en.n_exact, 2) AS recall_vs_exact
         |FROM j JOIN en USING (query_id)
         |ORDER BY query_id, rank""".stripMargin),
    QuerySpec("q112_srp_hamming_topk", q112SrpHammingTopK,
      s"""WITH codes AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         |    list_transform(range(1, 17), j ->
         |      CASE WHEN round(list_sum(list_transform(range(1, 65), i ->
         |        CAST(embedding[i] AS DOUBLE) *
         |        CASE WHEN ('0x' || substr(md5('srp:' || i || ':' || j), 1, 6))::BIGINT % 2 = 0
         |          THEN 1.0 ELSE -1.0 END)), 6) >= 0 THEN 1 ELSE 0 END) AS code
         |  FROM embeddings),
         |q AS (
         |  SELECT vec_id AS query_id, emb AS q_emb, code AS q_code
         |  FROM codes WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |    CAST(list_sum(list_transform(range(1, 17), j ->
         |      CASE WHEN c.code[j] <> q.q_code[j] THEN 1 ELSE 0 END)) AS INT) AS hamming,
         |    round(list_cosine_similarity(c.emb, q.q_emb), 6) AS sim
         |  FROM codes c CROSS JOIN q
         |  WHERE c.vec_id <> q.query_id)
         |SELECT query_id, vec_id, hamming, sim,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS INT) AS rank
         |FROM scored
         |QUALIFY rank <= 10
         |ORDER BY query_id, rank""".stripMargin)
  )
}
