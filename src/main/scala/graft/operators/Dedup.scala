package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.plans.Pin

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Scale design (the point of each choice):
  *   - exact dedup is a single hash-aggregate — one shuffle on the
  *     fingerprint, map-side partial aggregation;
  *   - MinHash/LSH never compares all pairs: signatures are computed
  *     row-local (no shuffle), candidates come from an equi-shuffle on
  *     (band, bandHash), and pair generation happens inside each bucket
  *     with a cap so one hot bucket cannot go quadratic;
  *   - SimHash banding is the same pattern on 16-bit chunks of the
  *     fingerprint;
  *   - exact-Jaccard verification only runs on the candidate set.
  */
object Dedup {

  /** Identifies the MinHash member-hash family baked into persisted
    * LSH indexes (v2 = xxhash64(shingle-hash, j) members; v1 was the
    * retired affine family). Bump whenever the signature arithmetic
    * in [[graft.plans.Sketches]] changes: probing an index sketched
    * under a different family would silently return garbage
    * candidates instead of failing. */
  private[graft] val SketchFormatVersion = 2

  /** Fails fast when a persisted index's recorded sketch format does
    * not match this build's. A meta table from before versioning
    * (no `sketch_version` column) reads as v1. */
  private def requireSketchVersion(spark: SparkSession, name: String): Unit = {
    val meta = spark.table(s"${name}_meta")
    val v = if (meta.columns.contains("sketch_version"))
      meta.select("sketch_version").head().getInt(0) else 1
    require(v == SketchFormatVersion,
      s"index '$name' was sketched under format v$v but this build probes " +
        s"v$SketchFormatVersion — rebuild it with writeLshIndex")
  }

  /** Exact duplicate groups by content hash (md5 of the raw text).
    * One shuffle; `keep_id` is the deterministic survivor (min id). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-doc MinHash signature + LSH band hashes. Row-local, no shuffle.
    *
    * The empty-doc filter tests the TOKEN count, not `size(sh) > 0`
    * (equivalent: the shingle set is empty iff tokens < n): a filter on
    * the shingle column gets predicate-pushed below the projection with
    * the shingle expression substituted in, so the scan-level Filter
    * would re-run tokenize+shingle per row before the Project runs the
    * full chain again — measured ~2× sketch CPU for nothing. */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 32, bands: Int = 8,
      md5Mode: Boolean = false): DataFrame = {
    val sketched = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", shingles("toks"))
    // md5Mode: signatures from the md5 double-hash family
    // (minhash_sig_md5 — see Sketches.Md5Hash) and band keys as RAW
    // signature slices instead of band hashes. Every downstream value
    // — candidates, pairs, the dedup output itself — becomes
    // reproducible by any engine that can md5 a string, which is what
    // lets the driver's DuckDB oracle hash-check the whole pipeline.
    // xxhash64 (default) is ~5× faster and right for production runs
    // nobody external needs to replay.
    if (md5Mode) {
      require(k % bands == 0, s"bands=$bands must divide k=$k")
      val r = k / bands
      sketched
        .withColumn("sig", expr(s"minhash_sig_md5(sh, $k)"))
        .withColumn("bandhash",
          expr(s"transform(sequence(0, ${bands - 1}), j -> slice(sig, j * $r + 1, $r))"))
        .select(col(idCol), col("sh"), col("sig"), col("bandhash"))
    } else sketched
      .withColumn("sig", minhashSignature("sh", k))
      .withColumn("bandhash", bandHashes("sig", k, bands))
      .select(col(idCol), col("sh"), col("sig"), col("bandhash"))
  }

  /** Candidate near-duplicate pairs from LSH banding. `maxBucket` caps
    * pathological buckets (skew guard): a bucket larger than the cap is
    * dropped rather than generating O(n²) pairs — at 100 TB a single
    * degenerate shingle ("", boilerplate) would otherwise dominate the
    * stage. Pair generation is in-bucket via an index-lambda transform,
    * so there is no self-join shuffle of the full signature table. */
  def minhashCandidates(sigs: DataFrame, idCol: String = "doc_id",
      maxBucket: Int = 100): DataFrame = {
    require(maxBucket <= 65535, "maxBucket must fit the topk_agg buffer cap")
    val exploded = sigs.select(col(idCol).as("id"), posexplode(col("bandhash")).as(Seq("band", "bh")))
    // ids are collected through the BOUNDED topk_agg buffer (constant
    // score → pure id-ascending order, capacity maxBucket + 1), not
    // collect_list: an unbounded collect ships EVERY id of a
    // boilerplate mega-bucket into one reducer's aggregation buffer
    // just to have the size filter drop it — the r10 sf10 audit caught
    // exactly that on the low-entropy corpus (q103). The bounded
    // aggregate is map-side partial: each partition reduces its slice
    // of a hot bucket to ≤ maxBucket+1 ids (rows past the cap are
    // rejected with one comparison), the overflow sentinel size
    // maxBucket+1 still trips the same [2, maxBucket] filter, and kept
    // buckets carry exactly the ids sort_array(collect_list) would.
    exploded
      .groupBy("band", "bh")
      .agg(expr(s"topk_agg(0.0D, id, ${maxBucket + 1})").as("top"))
      .withColumn("ids", expr("transform(top, x -> x.id)"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS doc_a, y AS doc_b))))""".stripMargin))
        .as("pair"))
      .select(col("pair.doc_a"), col("pair.doc_b"))
      .distinct()
  }

  /** Exact Jaccard over shingle sets for a pair list (verification pass —
    * runs only on LSH candidates, never all pairs). */
  def verifyJaccard(pairs: DataFrame, sigs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val sets = sigs.select(col(idCol).as("id"), col("sh"))
    pairs
      .join(sets.withColumnRenamed("id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(sets.withColumnRenamed("id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
  }

  /** End-to-end MinHash near-dup pairs above a Jaccard threshold.
    *
    * Shape: the full corpus is sketched exactly once, and only the
    * narrow (id, band, hash) projection flows into the candidate
    * shuffle — the wide shingle arrays are never cached or shuffled.
    * Verification re-shingles just the candidate documents (a
    * broadcast-semi-join-sized set), which is far cheaper than
    * persisting every document's shingle set: at 100 TB the shingle
    * arrays are the same order of magnitude as the corpus itself. */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.5,
      k: Int = 32, bands: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      md5Mode: Boolean = false): DataFrame = {
    val sigs = minhashSignatures(docs, idCol, textCol, k, bands, md5Mode)
    val pairs = minhashCandidates(sigs, idCol).cache()
    pairs.count() // eager: two downstream scans of a cold cache would
                  // re-sketch the whole corpus twice
    val candIds = pairs.select(col("doc_a").as(idCol))
      .union(pairs.select(col("doc_b").as(idCol))).distinct()
    // r16: pin the candidate shingle frame — verifyJaccard consumes it
    // on BOTH join sides (sh_a and sh_b aliases), and the differing
    // aliases defeat ReuseExchange exactly like the r15 q33 case, so
    // without the pin the scan → semi-join → tokenize → shingle chain
    // ran TWICE (profiled: 2 of q31's 4 heavy 64-task stages were this
    // chain; plan dump showed two parquet scans feeding the verify).
    // Still candidate-bounded at 100 TB: only candidate docs' shingle
    // sets are pinned, never the corpus's.
    val candSigs = docs.join(candIds, Seq(idCol), "left_semi")
      .withColumn("toks", tokens(textCol))
      .withColumn("sh", shingles("toks"))
      .select(col(idCol), col("sh"))
      .transform(graft.plans.Pin.lazily)
    verifyJaccard(pairs, candSigs, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** LSH banding calibration sweep — the (bands × rows-per-band) tuning
    * run data engineers do BEFORE committing a near-dup config: for each
    * candidate band count, the realized candidate volume (the cost
    * knob), the share surviving exact-Jaccard verification at the
    * target threshold (the precision knob), and the verified-pair count
    * (the recall proxy). One row per config.
    *
    * Shape: the expensive part — tokenize → shingle → k-hash MinHash
    * signature — runs ONCE and is cached; each config only re-slices
    * the SAME signature array into its band hashes (a row-local
    * transform) and pays its own (narrow) candidate shuffle + a
    * candidates-only verify. Sweeping S configs costs one sketch pass
    * plus S cheap banding passes, not S corpus sketches.
    *
    * Theory note surfaced by the output: with k fixed, more bands =
    * shorter bands, and a pair matching a longer band necessarily
    * matches its sub-bands — so (bucket caps aside) the candidate set
    * at higher `bands` is a SUPERSET: `n_candidates` non-decreasing,
    * verification share non-increasing. Exact duplicates collide at
    * every config by construction. */
  def minhashBandingSweep(docs: DataFrame, bandConfigs: Seq[Int] = Seq(4, 8, 16),
      k: Int = 32, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 100, md5Mode: Boolean = false): DataFrame = {
    bandConfigs.foreach(b => require(k % b == 0, s"bands=$b must divide k=$k"))
    val sigs = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= 3)
      .withColumn("sh", shingles("toks"))
      .withColumn("sig",
        if (md5Mode) expr(s"minhash_sig_md5(sh, $k)") else minhashSignature("sh", k))
      .select(col(idCol), col("sh"), col("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bandConfigs.map { b =>
        // md5 mode keys buckets on raw signature slices (engine-
        // replicable); default hashes each band (compact shuffles)
        val banded = sigs
          .withColumn("bandhash",
            if (md5Mode) expr(
              s"transform(sequence(0, ${b - 1}), j -> slice(sig, j * ${k / b} + 1, ${k / b}))")
            else bandHashes("sig", k, b))
          .select(col(idCol), col("bandhash"))
        val pairs = minhashCandidates(banded, idCol, maxBucket)
        verifyJaccard(pairs, sigs.select(col(idCol), col("sh")), idCol)
          .agg(
            count(lit(1)).as("n_candidates"),
            // coalesce: sum over an empty candidate set is NULL, and a
            // config that generates no candidates is a 0 row, not a gap
            coalesce(sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)), lit(0L))
              .as("n_true_pairs"),
            // negative ids are the engine's reserved planted-fixture
            // convention (q16/q31/q41/q67) — count recovered plants
            coalesce(sum(when(col("doc_a") < 0 && col("doc_b") < 0, 1L).otherwise(0L)), lit(0L))
              .as("planted_recovered"))
          .select(lit(b).as("bands"), lit(k / b).as("rows_per_band"),
            col("n_candidates"), col("n_true_pairs"),
            round(col("n_true_pairs") / greatest(col("n_candidates"), lit(1L)), 4)
              .as("precision"),
            // the designed S-curve recall AT the threshold,
            // 1 − (1 − t^r)^b — printed beside the realized counts so
            // the table shows theory and practice in one row
            round(lit(1.0 - math.pow(1.0 - math.pow(threshold, k / b), b)), 4)
              .as("design_recall_at_t"),
            col("planted_recovered"))
      }.reduce(_ unionByName _)
        // EAGER localCheckpoint: the result is one row per config — pin
        // it before the finally drops the signature cache, else the
        // caller's lazy execution would re-sketch the corpus per config
        .transform(Pin.eager)
    } finally sigs.unpersist(false)
  }

  /** Cross-document repeated-SPAN detection (the substring-dedup family
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): find maximal runs of ≥ `minSpanTokens`
    * consecutive tokens shared verbatim between two documents — the
    * boilerplate/quotation signal that document- and paragraph-level
    * dedup both miss.
    *
    * Shape: positional n-gram shingles (md5-keyed) equi-shuffle once;
    * buckets are capped (a common n-gram must not go quadratic); the
    * diagonal trick merges matches into maximal spans WITHOUT any
    * sequence alignment: a shared L-token run puts its L−n+1 shingle
    * matches on one (doc_a, doc_b, pos_a − pos_b) diagonal at
    * consecutive pos_a, so islands (pos_a − row_number constant) ARE
    * the maximal spans. Window partitions are per-(pair, diagonal) —
    * bounded by the bucket cap, never corpus-sized. Everything is
    * md5 + integer arithmetic: fully DuckDB-replicable, so the driver
    * check is a complete hash oracle (unlike the sketch dedups). */
  def repeatedSpans(docs: DataFrame, n: Int = 8, minSpanTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n)
      .select(col(idCol).as("id"),
        posexplode(expr(s"shingle_seq(toks, $n)")).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"), md5(col("sh")).as("h"))
    val pairs = pos.groupBy("h")
      .agg(sort_array(collect_list(struct(col("id"), col("pos")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(filter(slice(xs, i + 2, size(xs)), y -> y.id != x.id),
          |    y -> struct(x.id AS doc_a, x.pos AS pos_a, y.id AS doc_b, y.pos AS pos_b))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.pos_a"), col("p.doc_b"), col("p.pos_b"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    pairs
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("rn", row_number().over(w))
      .withColumn("grp", col("pos_a") - col("rn"))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        count(lit(1)).as("span_shingles"))
      .withColumn("span_tokens", col("span_shingles") + lit(n - 1))
      .filter(col("span_tokens") >= minSpanTokens)
      .select(col("doc_a"), col("doc_b"), col("start_a"), col("start_b"),
        col("span_shingles"), col("span_tokens"))
  }

  /** Repeated-span REMOVAL — the corpus rewrite [[repeatedSpans]]
    * detects for: every shared span is excised from the HIGHER-id doc
    * (keep-first, deterministic; the lower-id occurrence survives),
    * overlapping removal intervals are merged, and each doc's text is
    * rebuilt minus the removed token ranges.
    *
    * Interval merging is RELATIONAL (sort by start, running max of end
    * via a window, new island when start jumps past it) — the same
    * plan shape both engines express, no array-algorithm expression —
    * and the window partitions by doc. The rebuild is one row-local
    * indexed `filter` over the token array. Output is a total report:
    * every doc appears, with `n_removed` = 0 and the original text
    * fingerprint when nothing was excised. */
  def removeRepeatedSpans(docs: DataFrame, n: Int = 8, minSpanTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = repeatedSpans(docs, n, minSpanTokens, idCol, textCol, maxBucket)
    // distinct: two different lower-id docs can contribute the SAME
    // removal interval for one doc — dedupe before merging
    val iv = spans.select(col("doc_b").as(idCol),
      col("start_b").cast("long").as("s"),
      (col("start_b") + col("span_tokens") - 1).cast("long").as("e"))
      .distinct()
    val w = Window.partitionBy(idCol).orderBy("s", "e")
    val merged = iv
      .withColumn("max_e_before",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        when(col("max_e_before").isNull || col("s") > col("max_e_before"), 1).otherwise(0))
      .withColumn("grp", sum(col("new_grp")).over(w))
      .groupBy(col(idCol), col("grp"))
      .agg(min("s").as("s"), max("e").as("e"))
    val ivs = merged.groupBy(idCol).agg(collect_list(struct(col("s"), col("e"))).as("ivs"))
    docs.select(col(idCol), col(textCol))
      .join(ivs, Seq(idCol), "left")
      .withColumn("toks", tokens(textCol))
      .withColumn("kept", expr(
        "filter(toks, (t, i) -> ivs IS NULL OR NOT exists(ivs, v -> i >= v.s AND i <= v.e))"))
      .select(col(idCol),
        size(col("toks")).as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).as("n_removed"),
        md5(array_join(col("kept"), " ")).as("text_fp"))
  }

  /** Corpus-frequency exact-substring audit — the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr rule re-expressed as a frequency audit: a token
    * position is DUPLICATED when its fixed-width n-token shingle
    * occurs ≥ 2 times anywhere in the corpus (other docs OR elsewhere
    * in the same doc — within-doc repetition counts, unlike the
    * pairwise [[repeatedSpans]]); maximal contiguous duplicated-token
    * runs of ≥ `minSpanTokens` are the reportable spans. Output is a
    * TOTAL per-doc report: doc_id, total_tokens, dup_spans,
    * dup_tokens, dup_fraction — the corpus-health metric the big
    * training corpora publish ("X % of tokens are part of a ≥50-token
    * span that appears elsewhere").
    *
    * Why this exists next to [[repeatedSpans]]: the pairwise form
    * answers "which doc pairs share what" (and feeds removal, q105);
    * this form answers "how much of the corpus is duplicated" with NO
    * pair join at all — its cost is one fingerprint-key semi-join
    * regardless of how many documents share a span, so a boilerplate
    * paragraph pasted into 100 K docs costs 100 K rows here, not
    * 100 K² pair rows (the reason Lee et al. run ExactSubstr, not
    * all-pairs, at corpus scale).
    *
    * Scale shape: (1) one positional-shingle scan → md5 fingerprints;
    * (2) the duplicated-fingerprint set from a map-side-combinable
    * count (freq ≥ 2, any magnitude — no bucket cap needed because no
    * pairs are formed; a hot fingerprint is just a hot SEMI-JOIN key,
    * which AQE skew-split handles); (3) positions left-semi-join the
    * dup set on the fingerprint key — the one row-scale shuffle;
    * (4) interval union per doc (same relational merge as
    * [[removeRepeatedSpans]]: running max(end) window partitioned by
    * doc — each doc's dup positions only, never corpus-wide);
    * (5) a second corpus scan for per-doc token totals (map-side
    * trivial) outer-joined so untouched docs report 0. Everything is
    * md5 + integer arithmetic → FULL cross-engine oracle. */
  def exactSubstrAudit(docs: DataFrame, n: Int = 8, minSpanTokens: Int = 20,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n)
      .select(col(idCol).as("id"),
        posexplode(expr(s"shingle_seq(toks, $n)")).as(Seq("pos", "sh")))
      .select(col("id"), col("pos"), md5(col("sh")).as("h"))
    val dupH = pos.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("h")
    val dupPos = pos.join(dupH, Seq("h"), "left_semi")
    // interval union: shingle at pos covers tokens [pos, pos+n-1];
    // merge overlapping-or-adjacent intervals into maximal runs
    val w = Window.partitionBy("id").orderBy("pos")
    val spans = dupPos
      .withColumn("e", col("pos") + lit(n - 1))
      .withColumn("max_e_before",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_grp",
        when(col("max_e_before").isNull ||
          col("pos") > col("max_e_before") + 1, 1).otherwise(0))
      .withColumn("grp", sum(col("new_grp")).over(w))
      .groupBy(col("id"), col("grp"))
      .agg(min("pos").as("s"), max("e").as("e"))
      .withColumn("len", (col("e") - col("s") + 1).cast("long"))
      .filter(col("len") >= minSpanTokens)
    val perDoc = spans.groupBy("id")
      .agg(count(lit(1)).as("dup_spans"), sum("len").as("dup_tokens"))
    val totals = docs
      .withColumn("toks", tokens(textCol))
      .select(col(idCol).as("id"), size(col("toks")).cast("long").as("total_tokens"))
    totals.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("total_tokens"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        when(col("total_tokens") > 0,
          round(coalesce(col("dup_tokens"), lit(0L)) / col("total_tokens"), 4))
          .otherwise(lit(0.0)).as("dup_fraction"))
  }

  /** Per-source boilerplate-line removal (the CCNet/C4 pre-dedup
    * rewrite, Wenzek et al. 2020): a line is boilerplate within its
    * SOURCE (domain) when it appears in ≥ `threshold` of that
    * source's documents and the source has ≥ `minDocs` documents —
    * navigation chrome, cookie banners, footers. Unlike corpus-wide
    * paragraph dedup ([[paragraphDedup]], which keeps the FIRST
    * occurrence), boilerplate removal strips EVERY occurrence: a line
    * that frequent inside one domain is template, not content.
    *
    * Scale shape: one line explode; the per-(source, line) doc
    * frequency is a map-side-combinable distinct-doc count whose key
    * space is bounded by the corpus's distinct lines; the boilerplate
    * set (a per-source frame, tiny relative to data) comes back as
    * one equi-join on (source, line hash could be used — the line
    * itself is the key here for oracle transparency); the rebuild is
    * a per-doc ordered string_agg. Output is a TOTAL report:
    * (doc_id, n_lines, n_removed, text_fp), q105's discipline —
    * untouched docs carry their original fingerprint. */
  def boilerplateRemoval(docs: DataFrame, minDocs: Int = 5,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    val lines = docs
      .select(col(idCol), col(sourceCol),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val perSource = docs.groupBy(sourceCol)
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val bp = lines.select(col(sourceCol), col("line"), col(idCol)).distinct()
      .groupBy(sourceCol, "line").agg(count(lit(1)).as("df"))
      .join(broadcast(perSource), Seq(sourceCol))
      .filter(col("n_docs") >= minDocs &&
        col("df") / col("n_docs") >= threshold)
      .select(col(sourceCol), col("line"), lit(true).as("is_bp"))
    lines
      .join(bp, Seq(sourceCol, "line"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("is_bp"), 1L).otherwise(0L)).as("n_removed"),
        // collect_list drops NULLs, so removed lines never enter the
        // rebuilt text; array_sort on the struct restores line order
        md5(array_join(
          expr("transform(array_sort(collect_list(CASE WHEN is_bp THEN NULL ELSE struct(pos, line) END)), s -> s.line)"),
          "\n")).as("text_fp"))
  }

  /** Per-doc 64-bit SimHash fingerprint. Row-local. */
  def simhashFingerprints(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", md5Mode: Boolean = false): DataFrame = {
    docs.withColumn("toks", tokens(textCol))
      .select(col(idCol),
        (if (md5Mode) expr("simhash64_md5(toks)") else simhash64("toks"))
          .as("simhash"))
  }

  /** SimHash near-dup pairs: band the 64-bit fingerprint into four
    * 16-bit chunks (any exact-matching chunk → candidate; guarantees
    * recall for Hamming distance ≤ 3), then verify with bit_count(xor).
    * `md5Mode` votes with the md5 word (see `Md5Hash`) so fingerprints,
    * buckets, and pairs are engine-replicable — the q31 discipline. */
  def simhashNearDups(docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", maxBucket: Int = 100,
      md5Mode: Boolean = false): DataFrame = {
    val fp = simhashFingerprints(docs, idCol, md5Mode = md5Mode)
    val banded = fp.select(col(idCol).as("id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> shiftrightunsigned(simhash, b * 16) & 65535)"))
        .as(Seq("band", "chunk")))
    banded
      .groupBy("band", "chunk")
      .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y -> struct(x.id AS doc_a, x.simhash AS ha, y.id AS doc_b, y.simhash AS hb))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"),
        expr("bit_count(p.ha ^ p.hb)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs: LSH sign-buckets (any of
    * `tables` hash tables) propose candidates, the native cosine
    * expression verifies against the threshold. Never scores all pairs;
    * the shuffle key is (table, bucket) and buckets are capped — the
    * same scale shape as the text sketches. */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.9,
      idCol: String = "vec_id", embCol: String = "embedding",
      nBits: Int = 12, tables: Int = 4, maxBucket: Int = 200,
      md5Mode: Boolean = false): DataFrame = {
    // md5Mode: sign buckets from the SRP md5 ±1 family instead of the
    // xxhash64 hyperplanes — the q112 idiom, whose projections an
    // external engine recomputes term for term; signs are taken on the
    // 6-dp-rounded projection (the q112 boundary convention) and the
    // cosine threshold compares the 6-dp-rounded value, so buckets,
    // candidates, and verified pairs are all engine-replicable
    val bucketed = if (md5Mode) {
      val m = nBits * tables
      // one native project+pack pass per row (srp_band_keys_lsb, bit
      // b → 1<<b within each nBits-wide table slice — bit-identical to
      // the interpreted transform/aggregate fold it replaced);
      // posexplode's position is the table id
      emb.select(col(idCol).as("id"), col(embCol).as("e"),
          posexplode(expr(s"srp_band_keys_lsb($embCol, $m, $nBits)"))
            .as(Seq("tbl", "bucket")))
    } else {
      val tableBuckets = (0 until tables)
        .map(t => s"struct($t AS tbl, lsh_bucket($embCol, $nBits, $t) AS bucket)")
        .mkString(", ")
      emb
        .select(col(idCol).as("id"), col(embCol).as("e"),
          explode(expr(s"array($tableBuckets)")).as("tb"))
        .select(col("id"), col("e"), col("tb.tbl"), col("tb.bucket"))
    }
    bucketed
      .groupBy("tbl", "bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("e")))).as("xs"))
      .filter(size(col("xs")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y -> struct(x.id AS doc_a, x.e AS ea, y.id AS doc_b, y.e AS eb))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), expr("cosine_sim(p.ea, p.eb)").as("cosine"))
      .distinct()
      .filter(
        if (md5Mode) round(col("cosine"), 6) >= threshold
        else col("cosine") >= threshold)
  }

  /** Connected components over an undirected near-duplicate pair list:
    * the step that turns pairwise matches into duplicate CLUSTERS so a
    * survivor can be elected per cluster (cluster_id = min member id).
    *
    * Three algorithms behind one API, chosen by measured edge count
    * (cheap: the edge list is eagerly checkpointed either way):
    *   - at/below `localThreshold`: single-pass union-find ON THE
    *     DRIVER. This is NOT the collect() anti-pattern: a near-dup
    *     pair list above a high threshold is cluster-count-sized, not
    *     corpus-sized (hundreds of edges from millions of documents),
    *     and the iterative alternatives cost 6-10 sequential Spark
    *     jobs to label a graph that fits in one array — the same
    *     small-side-goes-local judgement as a broadcast join or IVF's
    *     centroid table. The guard keeps it honest: past the
    *     threshold the distributed paths engage.
    *   - below `starThreshold`: iterative min-label propagation — one
    *     equi-shuffle per round, converges in O(cluster diameter)
    *     rounds. Near-dup clusters are diameter-bounded in practice (a
    *     dup of a dup of X is a dup of X), so typically 2-4 rounds and
    *     the lowest constant factor.
    *   - at/above `starThreshold`: the large-star/small-star
    *     alternation (Kiveris et al., "Connected Components in
    *     MapReduce and Beyond", SoCC 2014) — O(log d) rounds
    *     (DedupClusterSpec proves the round-count drop on a long
    *     chain), which is what survives a 100 TB web graph where a
    *     pathological chain would cost label propagation hundreds of
    *     shuffles. Measured at 1 M nodes / 990 K edges in 10 K
    *     diameter-99 chains (local[32]): star 25 s vs propagation
    *     130 s, identical labels — the gap grows with diameter.
    * The distributed loops iterate driver-side over COUNTS/checksums
    * only (no data collected) and `localCheckpoint` each round so
    * round N's plan does not replay rounds 1..N-1. */
  def connectedComponents(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      starThreshold: Long = 1L << 22,
      localThreshold: Long = 100000L): DataFrame = {
    val edges = symmetrized(pairs, aCol, bCol)
    val n = edges.count()
    if (n <= localThreshold) localUnionFind(edges)
    else if (n >= starThreshold) starContract(edges)._1
    else propagateMinLabels(edges)._1
  }

  /** Union-find with path compression over a collected (small —
    * guarded by the caller) edge list; labels parallelized back out. */
  private[operators] def localUnionFind(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("a"), col("b")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = es.flatMap(e => Seq(e._1, e._2)).distinct.map(n => (n, find(n)))
    spark.createDataFrame(labels.toSeq).toDF("doc_id", "cluster_id")
  }

  /** Force the large-star/small-star algorithm regardless of size. */
  def connectedComponentsStar(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame =
    starContract(symmetrized(pairs, aCol, bCol))._1

  /** Both orientations of the pair list, self-loops dropped. The narrow
    * (a, b) projection is checkpointed BEFORE the union: pairs is
    * usually an expensive sketch pipeline, and a union of two branches
    * over the un-materialized plan would execute it twice (once per
    * orientation). After the checkpoint the swap is a re-read, not a
    * recompute. */
  private[operators] def symmetrized(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val p = pairs.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint()
    p.union(p.select(col("b").as("a"), col("a").as("b")))
      .filter(col("a") =!= col("b"))
  }

  /** Min-label propagation over a symmetric edge list; returns (labels,
    * rounds). One groupBy shuffle per round; a label travels one hop
    * per round, so rounds = max cluster diameter (+1 to detect
    * quiescence). */
  private[operators] def propagateMinLabels(edges: DataFrame): (DataFrame, Int) = {
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("label").as("nl")), Seq("b"))
        .groupBy(col("a").as("id")).agg(min("nl").as("nbr_min"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("new_label"))
        .localCheckpoint()
      rounds += 1
      changed = updated.filter(col("new_label") < col("label")).count()
      labels = updated.select(col("id"), col("new_label").as("label"))
    }
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), rounds)
  }

  /** Large-star/small-star contraction (Kiveris et al. 2014) over a
    * symmetric edge list; returns (labels, rounds). Per round:
    *   large-star — every node u links its LARGER neighbors to
    *     m(u) = min(u ∪ Γ(u)): edges halve long chains;
    *   small-star — every node u links its smaller-or-equal neighbors
    *     (and itself) to their minimum: locally stars the graph.
    * The alternation converges to per-component stars rooted at the
    * component minimum in O(log d) rounds; convergence is detected by a
    * (count, hash-sum) signature of the directed star edges, so the
    * driver never sees data. Every step is an equi-shuffle groupBy/join
    * on the node id — the same scale shape as one propagation round,
    * just fewer rounds. */
  private[operators] def starContract(edges0: DataFrame): (DataFrame, Int) = {
    var e = edges0.distinct().localCheckpoint()
    var rounds = 0
    var prevSig: Option[(Long, Long)] = None
    var directed: DataFrame = null
    var done = false
    while (!done) {
      val minsL = e.groupBy("a").agg(least(min(col("b")), col("a")).as("m"))
      val ls = e.filter(col("b") > col("a")).join(minsL, "a")
        .select(col("b").as("a"), col("m").as("b"))
      val lsSym = ls.union(ls.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b")).distinct()
      val se = lsSym.filter(col("b") < col("a"))
      val minsS = se.groupBy("a").agg(min(col("b")).as("m"))
      val ss = se.join(minsS, "a").filter(col("b") =!= col("m"))
        .select(col("b").as("a"), col("m").as("b"))
        .union(minsS.select(col("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint()
      rounds += 1
      // bit_xor, not sum: ANSI mode makes a long sum of hashes overflow;
      // xor is order-independent and closed over Long (edge set is
      // distinct, so no self-cancelling duplicates)
      val sigRow = ss.agg(count(lit(1)), expr("bit_xor(xxhash64(a, b))")).head()
      val sig = (sigRow.getLong(0), if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      directed = ss
      if (prevSig.contains(sig)) done = true
      else {
        prevSig = Some(sig)
        e = ss.union(ss.select(col("b").as("a"), col("a").as("b"))).localCheckpoint()
      }
    }
    val labels = directed.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(directed.select(col("b").as("doc_id"), col("b").as("cluster_id")))
      .distinct()
    (labels, rounds)
  }

  /** Incremental near-dup detection: match a NEW batch of documents
    * against an EXISTING corpus (and itself) without ever re-pairing
    * the old corpus — the daily-ingest shape at 100 TB, where
    * re-deduplicating the full corpus per batch is impossible. Both
    * sides are sketched (the old side's signatures would be a persisted
    * table in production — they are row-local to recompute or cheap to
    * store), candidates come from the usual (band, hash) equi-shuffle,
    * but old×old pairs are filtered out BEFORE pair generation, so
    * bucket work is (new × bucket) not (bucket²). Returns verified
    * pairs with `doc_a` ∈ new batch. */
  def incrementalNearDups(newDocs: DataFrame, oldDocs: DataFrame,
      threshold: Double = 0.5, k: Int = 32, bands: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // re-ingest guard: an id present in BOTH batches would fan the
    // verification joins out over duplicate ids — the new batch wins,
    // the old copy is dropped before sketching (left_anti is
    // broadcast-sized: the new batch is the small side by construction)
    val oldOnly = oldDocs.join(newDocs.select(col(idCol)), Seq(idCol), "left_anti")
    val newSigs = minhashSignatures(newDocs, idCol, textCol, k, bands)
      .withColumn("_new", lit(true))
    val oldSigs = minhashSignatures(oldOnly, idCol, textCol, k, bands)
      .withColumn("_new", lit(false))
    val exploded = newSigs.unionByName(oldSigs)
      .select(col(idCol).as("id"), col("_new"),
        posexplode(col("bandhash")).as(Seq("band", "bh")))
    // pair only (new, anything): the new side of each bucket is tiny
    // relative to the corpus side, so the join is new×bucket, never
    // bucket² — and a bucket with no new member produces nothing
    val n = exploded.filter(col("_new")).select(col("band"), col("bh"), col("id").as("doc_a"))
    val o = exploded.select(col("band"), col("bh"), col("id").as("doc_b"), col("_new").as("b_new"))
    val pairs = n.join(o, Seq("band", "bh"))
      .filter(col("doc_a") =!= col("doc_b"))
      // canonical orientation, and drop the mirrored new-new duplicate
      .filter(!col("b_new") || (col("doc_a") < col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
      .cache()
    pairs.count() // eager: candIds + verify below would recompute the sketch join
    val candIds = pairs.select(col("doc_a").as(idCol))
      .union(pairs.select(col("doc_b").as(idCol)))
    val all = newDocs.select(col(idCol), col(textCol))
      .unionByName(oldOnly.select(col(idCol), col(textCol)))
    val candSigs = all.join(candIds, Seq(idCol), "left_semi")
      .withColumn("toks", tokens(textCol))
      .withColumn("sh", shingles("toks"))
      .select(col(idCol), col("sh"))
    verifyJaccard(pairs, candSigs, idCol)
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental near-dup detection with EXACT recall: the same
    * new-batch-vs-corpus shape as [[incrementalNearDups]], but
    * candidates come from the inverted n-gram shingle index (any pair
    * with J > 0 shares a shingle, so nothing with J ≥ threshold can be
    * missed) instead of MinHash banding (whose recall at J near the
    * threshold is probabilistic — e.g. ~0.4 at J = 0.5 with k=32/b=8).
    * The incremental scale property is identical: the index join is
    * (new side × posting list), old×old postings never pair, and a
    * posting with no new member produces nothing. Shared-count
    * aggregation yields exact Jaccard directly (shingle sets are
    * distinct per doc), so no separate verify pass is needed.
    * Prefer this variant when missing a qualifying pair is not
    * acceptable (auditable dedup); prefer the MinHash variant when the
    * corpus-side index must stay sketch-sized. Output orientation:
    * `doc_a` ∈ new batch; for new-new pairs, doc_a < doc_b. */
  def incrementalNearDupsExact(newDocs: DataFrame, oldDocs: DataFrame,
      threshold: Double = 0.5, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val oldOnly = oldDocs.join(newDocs.select(col(idCol)), Seq(idCol), "left_anti")
    def index(docs: DataFrame, isNew: Boolean) = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n) // token-count filter: see minhashSignatures
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol).as("id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"), lit(isNew).as("_new"))
    val inv = index(newDocs, isNew = true).unionByName(index(oldOnly, isNew = false))
    val a = inv.filter(col("_new"))
      .select(col("shingle"), col("id").as("doc_a"), col("n_sh").as("na"))
    val b = inv.select(col("shingle"), col("id").as("doc_b"),
      col("n_sh").as("nb"), col("_new").as("b_new"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      // canonical orientation; drops the mirrored new-new duplicate
      .filter(!col("b_new") || (col("doc_a") < col("doc_b")))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Persisted MinHash-LSH near-dup index — the pre-built-table
    * counterpart of [[incrementalNearDups]], completing the index
    * triad with [[Similarity.writeIvfIndex]] and BM25's postings
    * table: the corpus is sketched ONCE at build time, and every
    * subsequent ingest batch probes the index without re-reading (or
    * re-sketching) a byte of old corpus text. Three managed tables:
    *  - `{name}_bands`    (bkey, doc_id), bucketed by `bkey` =
    *    xxhash64(band, bandhash) — the candidate-join side. A single
    *    combined key keeps the probe an exchange-free single-column
    *    equi-join against the bucket layout.
    *  - `{name}_shingles` (doc_id, sh_h array<long>), bucketed by
    *    doc_id — the verification side. Shingle HASHES, not strings:
    *    8 bytes/shingle vs the text-sized string set (the reason
    *    [[minhashNearDups]] re-shingles candidates instead of caching;
    *    an index gets to pay that storage once). Jaccard over the hash
    *    sets is exact up to 64-bit collisions.
    *  - `{name}_meta`     (k, bands, buckets, sketch_version,
    *    md5_mode) — the sketch config; a probe MUST band identically
    *    AND hash with the same member family or candidates are
    *    garbage, so probes and appends fail fast on a
    *    [[SketchFormatVersion]] mismatch and follow the recorded
    *    md5_mode (production xxhash64 vs the cross-engine md5 family
    *    — see [[minhashSignatures]]).
    */
  /** Per-shingle hash for the index's verification table: xxhash64 in
    * production, md5 h1 (15 hex digits as int — `Md5Hash`) in the
    * cross-engine oracle mode. Jaccard over either hashed set equals
    * Jaccard over the string sets up to 64-bit collisions; the md5
    * variant is what lets DuckDB recompute the sets verbatim (q108). */
  private def shingleHashExpr(md5Mode: Boolean): String =
    // md5_h1_seq = the SQL idiom
    // transform(sh, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))
    // value-for-value (SketchesSpec pins the equivalence), at one digest
    // + integer shifts per shingle instead of digest + hex encode +
    // substring + base-16 parse per shingle — r15 measured the SQL form
    // at 2× the cost of the entire 32-member MinHash sketch pass
    if (md5Mode) "md5_h1_seq(sh)"
    else "xxhash64_seq(sh)" // same dispatch-elimination for the production family

  /** The hashed projection writeLshIndex persists — exposed for plan
    * audits (the write action itself has no dumpable query plan). */
  def lshSigsProjection(docs: DataFrame, k: Int = 32, bands: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      md5Mode: Boolean = false): DataFrame =
    minhashSignatures(docs, idCol, textCol, k, bands, md5Mode)
      .select(col(idCol).as("doc_id"),
        expr(shingleHashExpr(md5Mode)).as("sh_h"), col("bandhash"))

  def writeLshIndex(spark: SparkSession, docs: DataFrame, name: String,
      k: Int = 32, bands: Int = 8, buckets: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      md5Mode: Boolean = false): Unit = {
    import spark.implicits._
    // cache the HASHED projection, not the sketch output: the string
    // shingle arrays are text-sized and feed nothing downstream — both
    // index tables derive from (id, shingle hashes, band hashes)
    val sigs = lshSigsProjection(docs, k, bands, idCol, textCol, md5Mode)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      graft.sources.Sinks.writeBucketed(
        sigs.select(col("doc_id"),
            posexplode(col("bandhash")).as(Seq("band", "bh")))
          .select(xxhash64(col("band"), col("bh")).as("bkey"), col("doc_id")),
        s"${name}_bands", buckets, Seq("bkey"))
      graft.sources.Sinks.writeBucketed(
        sigs.select(col("doc_id"), col("sh_h")),
        s"${name}_shingles", buckets, Seq("doc_id"))
      graft.sources.Sinks.replaceManagedTable(
        Seq((k, bands, buckets, SketchFormatVersion, md5Mode))
          .toDF("k", "bands", "buckets", "sketch_version", "md5_mode"), s"${name}_meta")()
    } finally sigs.unpersist(false)
  }

  /** Whether an index was built in the md5 oracle mode (older indexes
    * without the column read as production/xxhash). A probe or append
    * MUST hash with the index's recorded family — mixing families
    * silently yields garbage candidates, the same failure mode
    * [[SketchFormatVersion]] guards across builds. */
  private def indexMd5Mode(meta: DataFrame): Boolean =
    meta.columns.contains("md5_mode") && meta.select("md5_mode").head().getBoolean(0)

  /** Probe a [[writeLshIndex]] index with an ingest batch: near-dup
    * (new, indexed) pairs at `threshold`, with NO scan of old corpus
    * text anywhere in the plan — candidates come from the bands table,
    * verification shingles from the shingles table.
    *
    * Scale shape: the new batch is sketched inline (it is the small
    * side by construction); when it stays under `pruneLimit` distinct
    * band keys, the probe keys are collected as a LITERAL predicate so
    * the bucketed bands scan prunes to the touched buckets before the
    * broadcast join (the q101/IVF discipline — probed set known before
    * the scan); past the limit it falls back to a plain equi-join,
    * where the bands table's bucketing still absorbs its Exchange.
    * Batch-internal (new×new) pairs are out of contract — the index
    * answers "does this batch duplicate the CORPUS"; run
    * [[minhashNearDups]] on the batch for intra-batch dups, then
    * [[appendToLshIndex]] it. */
  def nearDupsFromLshIndex(spark: SparkSession, newDocs: DataFrame, name: String,
      threshold: Double = 0.5, idCol: String = "doc_id", textCol: String = "text",
      pruneLimit: Int = 64): DataFrame = {
    requireSketchVersion(spark, name)
    val metaDf = spark.table(s"${name}_meta")
    val meta = metaDf.head()
    val (k, bands) = (meta.getInt(0), meta.getInt(1))
    val md5Mode = indexMd5Mode(metaDf)
    // same hashed-projection caching as the build: verification reads
    // sh_a from here, the strings never leave the sketch pipeline
    val sigs = minhashSignatures(newDocs, idCol, textCol, k, bands, md5Mode)
      .select(col(idCol).as("doc_a"),
        expr(shingleHashExpr(md5Mode)).as("sh_a"), col("bandhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // eager localCheckpoint, not cache(): the two verify joins
      // below must not re-probe, AND the streaming ingest sink calls
      // this once per micro-batch — cache() entries live in the
      // CacheManager until explicitly dropped (a per-batch leak in a
      // continuous stream), while checkpoint RDD blocks are
      // ContextCleaner-managed once unreferenced
      val candidates = lshIndexCandidates(spark, sigs, name, pruneLimit)
        .transform(Pin.eager)
      val newSh = sigs.select(col("doc_a"), col("sh_a"))
      val oldSh = spark.table(s"${name}_shingles")
        .select(col("doc_id").as("doc_b"), col("sh_h").as("sh_b"))
      candidates
        .join(broadcast(newSh), Seq("doc_a"))
        .join(oldSh, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } finally sigs.unpersist(false)
  }

  /** Candidate (new, indexed) id pairs for an LSH-index probe — the
    * pre-checkpoint plan, separated so the plan-shape specs can assert
    * the bucket-pruning discipline directly (the checkpoint in
    * [[nearDupsFromLshIndex]] truncates the visible plan, as with
    * q31). `sigs` must carry (doc_a, bandhash).
    *
    * Literal-prune ONLY for genuinely tiny probes: past ~64 keys the
    * IN list's analysis/canonicalization cost exceeds what bucket
    * pruning saves (measured: a 4000-literal probe spent seconds in
    * planning), and a batch that size touches every bucket anyway —
    * the fallback equi-join still pays no Exchange on the bucketed
    * index side. */
  private[graft] def lshIndexCandidates(spark: SparkSession, sigs: DataFrame,
      name: String, pruneLimit: Int): DataFrame = {
    val newBands = sigs
      .select(col("doc_a"), posexplode(col("bandhash")).as(Seq("band", "bh")))
      .select(xxhash64(col("band"), col("bh")).as("bkey"), col("doc_a"))
    val probeKeys = newBands.select("bkey").distinct()
      .limit(pruneLimit + 1).collect().map(_.getLong(0))
    val bandsTable = spark.table(s"${name}_bands")
    (if (probeKeys.length <= pruneLimit)
      bandsTable.filter(col("bkey").isin(probeKeys: _*)).join(broadcast(newBands), Seq("bkey"))
    else bandsTable.join(newBands, Seq("bkey")))
      .filter(col("doc_a") =!= col("doc_id"))
      .select(col("doc_a"), col("doc_id").as("doc_b")).distinct()
  }

  /** Incremental maintenance: sketch the ingest batch and append it to
    * both index tables with the SAME bucket spec (bucket pruning and
    * the exchange-free probe stay intact — the [[Similarity
    * .appendToIvfIndex]] discipline). One sketch pass over the new
    * batch, two bucketed appends; the existing index is not read. */
  def appendToLshIndex(spark: SparkSession, newDocs: DataFrame, name: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    requireSketchVersion(spark, name)
    val metaDf = spark.table(s"${name}_meta")
    val meta = metaDf.head()
    val (k, bands, buckets) = (meta.getInt(0), meta.getInt(1), meta.getInt(2))
    val md5Mode = indexMd5Mode(metaDf)
    val sigs = minhashSignatures(newDocs, idCol, textCol, k, bands, md5Mode)
      .select(col(idCol).as("doc_id"),
        expr(shingleHashExpr(md5Mode)).as("sh_h"), col("bandhash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // repartition on the bucket key first — same file-count
      // discipline as Sinks.writeBucketed (an unpartitioned bucketed
      // append writes tasks × buckets files per batch, and a daily
      // sink accretes them forever)
      sigs.select(col("doc_id"),
          posexplode(col("bandhash")).as(Seq("band", "bh")))
        .select(xxhash64(col("band"), col("bh")).as("bkey"), col("doc_id"))
        .repartition(buckets, col("bkey"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "bkey").sortBy("bkey")
        .format("parquet").saveAsTable(s"${name}_bands")
      sigs.select(col("doc_id"), col("sh_h"))
        .repartition(buckets, col("doc_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .bucketBy(buckets, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(s"${name}_shingles")
    } finally sigs.unpersist(false)
  }

  /** The end-user dedup operation: remove near-duplicates from a
    * corpus, keeping one survivor (min id) per duplicate cluster.
    * Pairs come from [[minhashNearDups]] (or any pair source via
    * `pairsOf`), clusters from [[connectedComponents]] — without the
    * clustering step, pairwise removal is ill-defined (dropping "b of
    * (a,b)" and "c of (b,c)" would over- or under-delete depending on
    * pair order). The non-survivor id set is usually tiny relative to
    * the corpus, so the final filter is a broadcast-friendly anti-join. */
  def dedupSurvivors(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.5,
      pairsOf: DataFrame => DataFrame = null): DataFrame = {
    val pairs =
      if (pairsOf != null) pairsOf(docs)
      else minhashNearDups(docs, threshold, idCol = idCol, textCol = textCol)
    val clusters = connectedComponents(pairs)
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** N-gram Jaccard via an inverted shingle index: explode shingles,
    * equi-join on shingle (doc_a < doc_b), jaccard =
    * shared / (|A| + |B| - shared). The equi-join shuffles on the
    * shingle — the classic scalable similarity-join shape.
    *
    * With `prefixFilter` on, only each document's prefix — its
    * |sh| − ⌈t·|sh|⌉ + 1 first shingles under a consistent global
    * total order — enters the inverted index. The prefix filtering
    * principle (Chaudhuri et al. SSJoin 2006; Xiao et al. PPJoin,
    * WWW 2008) guarantees any pair with J ≥ t shares a prefix shingle
    * under ANY global order, so recall stays exact; a length filter
    * (t·|B| ≤ |A|) prunes further, and exact Jaccard is verified on
    * candidates only, by re-shingling just the candidate documents.
    *
    * `prefixFilter = None` (default) auto-selects on the threshold:
    * prefix pays only when t ≥ ~0.5. Below that the prefix keeps most
    * of the index ((1−t) factor), candidates barely shrink, and the
    * candidate/verify machinery (distinct pair set + two array joins)
    * costs more than the naive path's single streaming count-join —
    * measured 4-5× slower at t=0.3 on the sf0.1 corpus, and the same
    * asymmetry holds at 100 TB because both paths shuffle the same
    * near-full index. At t ≥ 0.5 the index shrinks superlinearly
    * (prefix factor × quadratic candidate shrinkage) and prefix wins.
    *
    * Two orders, chosen by `freqOrder`:
    *   - false (default): order by xxhash64(shingle) — computed INSIDE
    *     the scan stage, row-local, so the prefix costs zero extra
    *     shuffles; the index shrinks by the ~t/(1+t) prefix factor.
    *   - true: rare-first by corpus document frequency (textbook
    *     AllPairs/PPJoin). Costs a full-index aggregate + join-back +
    *     per-doc window (three more full shuffles), but drops the HOT
    *     posting lists (boilerplate n-grams shared by millions of docs
    *     — the lists that go quadratic in the join) out of prefixes
    *     entirely. Worth it on Zipfian web corpora; not on uniform ones.
    *
    * All three paths produce identical results (regression-tested in
    * DedupSimilaritySpec). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.3,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      prefixFilter: Option[Boolean] = None, freqOrder: Boolean = false): DataFrame = {
    val usePrefix = prefixFilter.getOrElse(threshold >= 0.5)
    val sh = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n) // token-count filter: see minhashSignatures
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol).as("id"), col("sh"), size(col("sh")).as("n_sh"))
    if (!usePrefix) {
      // r15: pin the exploded index once — the self-join's two sides
      // carry different aliases, so their pre-exchange subtrees don't
      // canonicalize equal and ReuseExchange can't kick in; without the
      // pin the scan → tokenize → shingle → explode chain ran TWICE
      // (once per join side). Narrow frame (id, n_sh, shingle).
      val inv = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
        .transform(Pin.lazily)
      val a = inv.select(col("id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
      val b = inv.select(col("id").as("doc_b"), col("n_sh").as("nb"), col("shingle"))
      a.join(b, Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("shared"))
        .select(col("doc_a"), col("doc_b"),
          (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    } else {
      val prefixLen = (col("n_sh") - ceil(lit(threshold) * col("n_sh")) + 1).cast("int")
      // prefix rows carry the shingle's 1-based POSITION in the doc's
      // full globally-ordered shingle list — the PPJoin positional /
      // count filter below needs it
      val pref =
        if (!freqOrder) {
          // hash-ordered prefix: sort the shingle set by (xxhash64, value)
          // and slice — entirely row-local, stays in the scan stage
          sh.select(col("id"), col("n_sh"),
            posexplode(slice(expr(
              "transform(array_sort(transform(sh, s -> struct(xxhash64(s) AS h, s AS s))), p -> p.s)"),
              lit(1), prefixLen)))
            .select(col("col").as("shingle"), col("id"), col("n_sh"),
              (col("pos") + 1).as("p"))
        } else {
          import org.apache.spark.sql.expressions.Window
          val inv = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
          val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
          val byDoc = Window.partitionBy("id").orderBy(col("dfreq"), col("shingle"))
          inv.join(dfreq, Seq("shingle"))
            .withColumn("rk", row_number().over(byDoc))
            .filter(col("rk") <= prefixLen)
            .select(col("shingle"), col("id"), col("n_sh"), col("rk").as("p"))
        }
      // PPJoin positional + count filter (Xiao et al., WWW 2008),
      // aggregated join form. Both prefixes are the LOWEST positions of
      // the same global total order (hash order / (dfreq, shingle)), so
      // matched positions are co-monotonic across the pair and for the
      // LAST match at (max_pa, max_pb) every common shingle ordered
      // before it is provably matched: an unmatched common element
      // before the last match would have to sit inside one prefix but
      // beyond the other's prefix bound, contradicting the shared
      // order. Hence overlap ≤ c + min(na−max_pa, nb−max_pb) — an EXACT
      // upper bound, so pruning pairs whose bound misses
      // α = t·(na+nb)/(1+t) (the J≥t ⟺ O≥α identity) has zero false
      // negatives. The bound comparison is relaxed by 1e-9 so a float
      // ulp can only ever ADMIT a borderline candidate (verification is
      // exact), never drop one. Measured at derived sf10 (t=0.8,
      // 500 K docs): 8.13 M length-filter candidates → far fewer enter
      // the array_intersect verification join, which was 92 of q138's
      // 124 s.
      val cand = pref.select(col("shingle"), col("id").as("doc_a"),
          col("n_sh").as("na"), col("p").as("pa"))
        .join(pref.select(col("shingle"), col("id").as("doc_b"),
          col("n_sh").as("nb"), col("p").as("pb")),
          Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        // length filter: J ≥ t forces t·max(|A|,|B|) ≤ min(|A|,|B|)
        .filter(col("na") >= ceil(lit(threshold) * col("nb")) &&
          col("nb") >= ceil(lit(threshold) * col("na")))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(count(lit(1)).as("__c"), max("pa").as("__pa"), max("pb").as("__pb"))
        .filter(col("__c") + least(col("na") - col("__pa"), col("nb") - col("__pb")) >=
          lit(threshold / (1.0 + threshold)) * (col("na") + col("nb")) - lit(1e-9))
        .select("doc_a", "doc_b", "na", "nb")
        .cache()
      cand.count() // eager: the two verification joins below would each
                   // re-run the whole candidate pipeline on a cold cache
      // verification re-shingles only the candidate documents (a
      // semi-join-sized set), never the full corpus — the same shape as
      // minhashNearDups: at 100 TB the full shingle arrays are corpus-
      // sized and must not be materialized or shuffled twice
      val candIds = cand.select(col("doc_a").as("id"))
        .union(cand.select(col("doc_b").as("id"))) // no distinct: semi-join dedups
      val sets = docs.join(candIds.withColumnRenamed("id", idCol), Seq(idCol), "left_semi")
        .withColumn("toks", tokens(textCol))
        .select(col(idCol).as("id"), shingles("toks", n).as("sh"))
      cand
        .join(sets.select(col("id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
        .join(sets.select(col("id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
        .withColumn("shared", size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(col("doc_a"), col("doc_b"),
          (col("shared").cast("double") / (col("na") + col("nb") - col("shared"))).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Shingle CONTAINMENT self-join — the asymmetric sibling of
    * [[ngramJaccardPairs]]: containment = |A∩B| / min(|A|, |B|)
    * catches a document EMBEDDED in another (a quoted article, a
    * header-wrapped repost), which symmetric Jaccard dilutes — a
    * quote that is 90% of the small doc but 5% of the large one has
    * J ≈ 0.05 but containment 0.9. The pre-training dedup pipelines
    * that strip quoted inclusions key on exactly this statistic
    * (Broder's resemblance-vs-containment distinction, SEQUENCES '97).
    *
    * Scale shape: same inverted shingle index as the naive Jaccard
    * path — one equi-shuffle on the shingle, one count aggregate;
    * pair work is Σ|postings|² over the surviving shingles. The
    * Jaccard prefix filter deliberately does NOT apply (it bounds the
    * union, not the min), which is why this is its own operator rather
    * than a threshold tweak. CAVEAT without a cap: one corpus-wide
    * boilerplate shingle (a license line, a shared header) makes the
    * self-join quadratic in that posting list's length — `maxPosting`
    * drops shingles whose posting list exceeds it BEFORE the join
    * (the PPJoin stop-shingle move). The trade is explicit: capped
    * runs UNDER-count `shared`, so containment becomes a recall-lossy
    * LOWER bound — candidate generation, not an exact statistic; the
    * default (no cap) is exact and postings-bounded only as far as the
    * corpus's hottest shingle. Deterministic either way: shared/min is
    * one division of exact integers, rounded at the query edge only. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text", n: Int = 3,
      maxPosting: Int = Int.MaxValue): DataFrame = {
    val sh = docs
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n)
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol).as("id"), col("sh"), size(col("sh")).as("n_sh"))
    val inv0 = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("shingle"))
    val inv =
      if (maxPosting == Int.MaxValue) inv0
      else {
        // one extra aggregate over the postings (shingle-keyed, map-side
        // combinable) buys the quadratic bound; hot shingles are the
        // least discriminative, so recall loss concentrates on pairs
        // that share ONLY boilerplate
        val hot = inv0.groupBy("shingle").agg(count(lit(1)).as("__plen"))
          .filter(col("__plen") > maxPosting).select("shingle")
        inv0.join(broadcast(hot), Seq("shingle"), "left_anti")
      }
    val a = inv.select(col("id").as("doc_a"), col("n_sh").as("na"), col("shingle"))
    val b = inv.select(col("id").as("doc_b"), col("n_sh").as("nb"), col("shingle"))
    a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(count(lit(1)).as("shared"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("shared"),
        (col("shared").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Canonical survivor election per duplicate cluster — the step
    * between clustering (q61) and removal (q80) that real pipelines
    * ship: inside each near-dup cluster, KEEP the highest-quality
    * member (ties → lowest id, deterministic) instead of the arbitrary
    * min-id member, so dedup never discards the best copy of a
    * document.
    *
    * Pure composition: [[ngramJaccardPairs]] → [[connectedComponents]]
    * → one quality join + a per-cluster argmax (max-quality aggregate,
    * equality filter, min-id aggregate — no window). Scale: the argmax
    * frames are cluster-count-sized; the only data-scale work is the
    * pair generation already audited under q33/q61. */
  def canonicalPerCluster(docs: DataFrame, qualityCol: String,
      threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val pairs = ngramJaccardPairs(docs, threshold, idCol, textCol)
    // connectedComponents emits its member column as 'doc_id' no matter
    // what the pair columns were named — realign to idCol so the
    // quality join works for any caller-supplied id column
    val members = connectedComponents(pairs)
      .withColumnRenamed("doc_id", idCol)
      .join(docs.select(col(idCol), col(qualityCol)), Seq(idCol))
    val best = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(col(qualityCol)).as("best_quality"))
    members.join(best, Seq("cluster_id"))
      .filter(col(qualityCol) === col("best_quality"))
      .groupBy("cluster_id", "n_members", "best_quality")
      .agg(min(col(idCol)).as("kept_doc_id"))
      .select("cluster_id", "kept_doc_id", "n_members", "best_quality")
      .orderBy("cluster_id")
  }

  /** The nightly corpus-refresh dedup pipeline, end to end in ONE
    * maintained operator — the composition a production corpus
    * actually runs: snapshot diff → delta-only near-dup →
    * connected components → canonical (best-quality) survivor
    * election → survivor removal. Returns the refreshed, deduplicated
    * corpus (all `newDocs` columns, losers removed).
    *
    * Stages (each individually oracled under q130/q61/q205/q80):
    *   1. [[Curation.snapshotDiff]] classifies new vs old on a
    *      content fingerprint; only `changed ∪ added` ids form the
    *      delta — at 100 TB the unchanged bulk is never re-paired.
    *   2. [[incrementalNearDupsExact]] pairs the delta against the
    *      untouched remainder (and itself) via the inverted shingle
    *      index: exact recall at the threshold, old×old postings
    *      generate nothing.
    *   3. [[connectedComponents]] merges pairs into clusters (tiered:
    *      local union-find / min-label propagation / large-star by
    *      edge count).
    *   4. Within each cluster the member with the highest `quality`
    *      survives (ties → lowest id, deterministic); everyone else —
    *      including an untouched incumbent beaten by a better new
    *      copy — is dropped by one anti-join. Loser sets are tiny
    *      relative to the corpus, so the final join broadcasts.
    *
    * Correctness contract (the q129/q130 proof shape): because stage-2
    * recall is exact, the output equals the FULL-REBUILD pipeline
    * restricted to clusters touching the delta — which is what the
    * driver's q207 oracle rebuilds in SQL.
    *
    * @param quality expression over `newDocs` columns scoring each
    *                doc (higher survives); e.g. `length(col("text"))` */
  def corpusRefresh(oldDocs: DataFrame, newDocs: DataFrame,
      quality: Column, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      contentCols: Seq[String] = Seq("text")): DataFrame = {
    // the delta id frame feeds a semi- AND an anti-join; checkpoint so
    // the full-outer fingerprint diff underneath runs once
    val delta = Curation.snapshotDiff(oldDocs, newDocs, idCol, contentCols)
      .filter(col("status").isin("changed", "added"))
      .select(col(idCol)).transform(Pin.lazily)
    val deltaDocs = newDocs.join(delta, Seq(idCol), "left_semi")
    val untouched = newDocs.join(delta, Seq(idCol), "left_anti")
    val pairs = incrementalNearDupsExact(deltaDocs, untouched, threshold,
      idCol = idCol, textCol = textCol)
    // cluster-member frames are duplicate-count-sized; checkpoint the
    // scored frame so its corpus join doesn't replay per consumer
    // (election reads it three times)
    val members = connectedComponents(pairs).withColumnRenamed("doc_id", idCol)
    val scored = members.join(newDocs.select(col(idCol), quality.as("__q")), Seq(idCol))
      .transform(Pin.lazily)
    val best = scored.groupBy("cluster_id").agg(max("__q").as("__bq"))
    val kept = scored.join(best, Seq("cluster_id"))
      .filter(col("__q") === col("__bq"))
      .groupBy("cluster_id").agg(min(col(idCol)).as("__keep"))
    val losers = scored.join(kept, Seq("cluster_id"))
      .filter(col(idCol) =!= col("__keep"))
      .select(col(idCol))
    newDocs.join(losers, Seq(idCol), "left_anti")
  }

  /** Paragraph-level exact dedup (the CCNet/Dolma move): every paragraph
    * that already appeared earlier in the corpus — in ANY document — is
    * removed, keeping the first occurrence by (doc id, paragraph
    * position); documents are reassembled from their surviving
    * paragraphs. Boilerplate (headers, footers, license blocks) is
    * corpus-wide duplicated at the paragraph grain even when no two
    * documents are near-duplicates, which is why pre-training corpora
    * dedup at this level in addition to the document level.
    *
    * Scale shape: explode to (doc, pos, paragraph) → ONE equi-shuffle on
    * the paragraph hash for the keep-first window → one shuffle back on
    * the doc id to reassemble. The paragraph TEXT never shuffles twice:
    * the second shuffle carries only surviving rows. Total over the
    * input (every doc appears in the output, possibly with zero kept
    * paragraphs), deterministic, and expressible in plain SQL — which is
    * what makes the driver's q89 a full hash-oracle check. */
  def paragraphDedup(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", sep: String = "\n"): DataFrame = {
    // sep is a LITERAL separator (quoted before the regex-based split):
    // a caller passing "." or "|" must not silently split on every char
    val paras = docs
      .select(col(idCol),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))).as(Seq("pos", "para_raw")))
      .select(col(idCol), col("pos"), trim(col("para_raw")).as("para"))
      .filter(col("para") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("para"))).orderBy(col(idCol), col("pos"))
    val kept = paras
      .withColumn("rn", row_number().over(w))
      .withColumn("is_kept", col("rn") === 1)
    val perDoc = kept
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN is_kept THEN struct(pos, para) END)), x -> x.para)"),
          sep).as("text_dedup"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023): spherical
    * k-means partitions the embedding space, then near-duplicate pairs
    * are searched ONLY within each cluster — the clustering is what
    * keeps the pair search linear-ish at corpus scale (pairs are
    * cluster-local, and k grows with the corpus so cluster sizes stay
    * bounded). Within a cluster, pairs above the cosine threshold form
    * duplicate components; the min-id member survives.
    *
    * Returns the removed rows: (vec_id, survivor_id, cluster) — every
    * non-survivor member of a duplicate component, labeled with its
    * component's min id. `maxCluster` is the same skew guard as the
    * sketch dedups: a degenerate cluster (all-zero embeddings) must not
    * go quadratic. The cap trades recall for boundedness, so the trade
    * is made VISIBLE: every output row carries `capped_clusters` /
    * `capped_rows` (clusters skipped by the cap and the rows inside
    * them — rows whose duplicates, if any, were not searched). Zero
    * means full within-cluster recall; the audit comes from a cheap
    * per-cell count aggregate, not the heavy embedding-list branch.
    *
    * Because the SemDeDup sizing rule makes k ∝ n, flat Lloyd's
    * assignment (n·k comparisons per round) is quadratic in the corpus
    * — measured as 20.1× time for 10× data at derived sf10. Above
    * `twoLevelFrom` cells the clustering therefore switches to
    * [[Similarity.kmeansAssignTwoLevel]] (coarse→fine, n·2√k per
    * round); below it the flat path is both faster (no fine-table
    * join) and the one the sf0.01 oracle gate exercises. The 256
    * default is measured: at k=100 (derived sf1) flat wins 3.8 s vs
    * 5.9 s — the fixed ~0.5 s/round fine-join overhead dominates —
    * while at k=1000 (derived sf10) two-level wins 10.0 s vs 75.8 s. */
  def semanticDedup(emb: DataFrame, eps: Double = 0.97,
      k: Int = 16, maxIter: Int = 8,
      idCol: String = "vec_id", embCol: String = "embedding",
      maxCluster: Int = 10000, twoLevelFrom: Int = 256,
      tol: Double = 1e-4): DataFrame = {
    val spark = emb.sparkSession
    val assigned0 =
      if (k > twoLevelFrom)
        Similarity.kmeansAssignTwoLevel(spark, emb, k, maxIter, idCol, embCol)
      else {
        // round6 assignment: argmax over the 6-dp-rounded cosine —
        // converged-attractor centroid pairs give sub-ulp margins
        // that would otherwise ride cross-engine accumulation noise
        // (observed: one flipped cell at sf0.1); rounded they tie and
        // the larger-id rule resolves identically in any engine
        val centroids = Similarity.kmeansFit(spark, emb, k, maxIter,
          idCol, embCol, tol, round6 = true)
        Similarity.kmeansAssign(spark, emb, centroids, embCol, round6 = true)
      }
    val assigned = assigned0
      .select(col(idCol).as("id"), col(embCol).as("e"), col("cell"))
    // cluster-local pair generation, bucket-capped — identical shape to
    // embeddingNearDups but keyed by the learned cell instead of an LSH
    // bucket, so recall inside a cluster is exact (every within-cluster
    // pair is scored, none sampled away)
    val pairs = assigned
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("id"), col("e")))).as("xs"))
      .filter(size(col("xs")).between(2, maxCluster))
      .select(col("cell"), explode(expr(
        """flatten(transform(xs, (x, i) ->
          |  transform(slice(xs, i + 2, size(xs)), y -> struct(x.id AS doc_a, x.e AS ea, y.id AS doc_b, y.e AS eb))))""".stripMargin))
        .as("p"))
      .select(col("cell"), col("p.doc_a"), col("p.doc_b"),
        expr("cosine_sim(p.ea, p.eb)").as("cosine"))
      // threshold on the 6-dp-ROUNDED cosine — the md5-mode audit
      // convention (embeddingNearDups, q112): an external engine
      // replaying the pair search cannot diverge on a last-ulp
      // boundary; 1e-6 is semantically nothing for a 0.97 dedup gate
      .filter(round(col("cosine"), 6) >= eps)
    val labels = connectedComponents(pairs.select("doc_a", "doc_b"))
    // skew-cap audit: one light count-by-cell pass (partial-aggregated,
    // no embedding arrays), reduced to a single broadcastable row
    val capAudit = assigned.groupBy("cell").agg(count(lit(1)).as("sz"))
      .filter(col("sz") > maxCluster)
      .agg(count(lit(1)).as("capped_clusters"),
        coalesce(sum("sz"), lit(0L)).as("capped_rows"))
    labels.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol), col("cluster_id").as("survivor_id"))
      .join(assigned.select(col("id").as(idCol), col("cell")), Seq(idCol))
      .crossJoin(broadcast(capAudit))
  }
}
