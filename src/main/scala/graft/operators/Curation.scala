package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Pin

/** Dataset-curation operators for training-data assembly: deterministic
  * splits, stratified sampling, ratio-controlled mixing, compaction. */
object Curation {

  /** Deterministic hash bucket in [0, 100) from a key column, via md5 —
    * stable across engines, runs, and cluster sizes (unlike RNG-based
    * splits, a re-run never reassigns a document). */
  def hashBucket(key: Column): Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 6), 16, 10).cast("long"), lit(100))

  /** Train/validation/test assignment by hash bucket:
    * [0,80) → train, [80,90) → val, [90,100) → test. */
  def split(df: DataFrame, key: String,
      trainPct: Int = 80, valPct: Int = 10): DataFrame =
    df.withColumn("split",
      when(hashBucket(col(key)) < trainPct, "train")
        .when(hashBucket(col(key)) < trainPct + valPct, "val")
        .otherwise("test"))

  /** Per-stratum deterministic downsampling: keep `fraction` of each
    * group, chosen by hash bucket (reproducible, no RNG state). */
  def stratifiedSample(df: DataFrame, key: String, stratum: String,
      fractions: Map[String, Double]): DataFrame = {
    val keep = fractions.foldLeft(lit(false)) { case (acc, (value, frac)) =>
      // round, don't truncate: (0.29 * 100).toInt is 28 in IEEE doubles
      when(col(stratum) === value,
        hashBucket(col(key)) < math.round(frac * 100).toInt).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Mix datasets at a target ratio: downsample each source to its
    * weight, then union — the standard corpus-mixing shape. */
  def mix(sources: Seq[(DataFrame, Double)], key: String): DataFrame =
    sources.map { case (df, weight) =>
      df.filter(hashBucket(col(key)) < math.round(weight * 100).toInt)
    }.reduce(_ unionByName _)

  /** Deterministic uniform unit-interval draw in [0, 1) from a key:
    * 48 bits of md5 scaled down — the continuous-weight counterpart of
    * [[hashBucket]], same cross-engine/cross-run stability. */
  def hashUnit(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 12), 16, 10).cast("double") /
      lit(281474976710656.0) // 2^48

  /** Quality-weighted downsampling: keep each row with probability
    * `weight` (a per-row column in [0,1]), decided by the key's hash —
    * deterministic, so re-runs keep exactly the same rows and the
    * sample composition is reproducible across cluster sizes. The
    * standard corpus-shaping move: keep high-quality documents with
    * probability ~1, boilerplate with probability ~0, without an RNG
    * whose partitioning changes the outcome. Pure filter — no shuffle. */
  def weightedSample(df: DataFrame, key: String, weight: Column): DataFrame =
    df.filter(hashUnit(col(key)) < weight)

  /** Train/test contamination report: for every test document, how many
    * train documents share ≥1 n-gram shingle with it, and the largest
    * shared-shingle count. The leakage check a training pipeline runs
    * before shipping a split. Candidate generation is the inverted-
    * index equi-join on the shingle (the scalable similarity-join
    * shape, same as [[Dedup.ngramJaccardPairs]]): nothing all-pairs,
    * the shuffle key is the shingle, and split filters are pushed into
    * the scan. Returns ALL test docs (clean ones with zeros) so the
    * report is a total audit, not a sample.
    *
    * Scan economics: the corpus is shingled once per consumer branch
    * (train index, test index, test spine — 3 passes). That is the
    * deliberate trade against caching corpus-sized shingle arrays; at
    * 100 TB the production form lands the narrow (doc_id, split,
    * shingle) index to parquet once and joins from there, which this
    * operator's output shape already matches. */
  def contaminationReport(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    import graft.functions.TextFunctions._
    val tagged = split(docs, idCol)
      .withColumn("toks", tokens(textCol))
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol), col("split"), col("sh"))
    val inv = tagged.select(col(idCol), col("split"), explode(col("sh")).as("shingle"))
    val train = inv.filter(col("split") === "train")
      .select(col("shingle"), col(idCol).as("train_doc"))
    val test = inv.filter(col("split") === "test")
      .select(col("shingle"), col(idCol).as("test_doc"))
    val overlap = test.join(train, Seq("shingle"))
      .groupBy("test_doc", "train_doc").agg(count(lit(1)).as("shared"))
      .groupBy("test_doc")
      .agg(count(lit(1)).as("n_train_docs"), max("shared").as("max_shared"))
    tagged.filter(col("split") === "test").select(col(idCol).as("test_doc"))
      .join(overlap, Seq("test_doc"), "left")
      .select(col("test_doc"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
  }

  /** Bloom-filter decontamination PRE-filter: build one Bloom filter
    * over the TEST split's n-gram shingles (a mergeable sketch built in
    * a single pass, then broadcast to executors) and probe every
    * training document's shingles row-locally. Returns the train side
    * with a `bloom_hit` flag; only flagged docs need to enter the exact
    * contamination join ([[contaminationReport]]).
    *
    * Why this is the 100 TB shape: the exact check is a shingle-index
    * equi-join — a full shuffle of the training corpus's shingles. The
    * bloom probe is a scan with NO shuffle and no join; with leakage
    * rates in the per-mille range it prunes the join's input by orders
    * of magnitude. The Bloom guarantee (no false negatives) means the
    * funnel is sound: every truly-contaminated doc carries
    * `bloom_hit = true`; false positives only cost extra work in the
    * exact stage, bounded by `fpp` per probed shingle.
    *
    * Fully native since r4: the sketch is built by `bloom_filter_agg`
    * over `xxhash64(shingle)` — a distributed mergeable aggregate
    * (partial sketches bit-OR on executors; only the final KB-sized
    * binary reaches the driver, vs `stat.bloomFilter`'s driver-side
    * `treeAggregate` merge of per-partition filters) — and the probe is
    * Spark's own `BloomFilterMightContain` expression (registered as
    * `might_contain` by [[graft.plans.GraftExtensions]]) inside a
    * codegen'd `exists` lambda. The probe expression requires a
    * FOLDABLE sketch side, so the one-row binary is inlined as a
    * literal — the same KB-scale driver materialization every sketch
    * op here makes, not a data collect.
    *
    * Determinism: bloom insertion order is irrelevant (bit-OR), and
    * both the per-item hashing and `xxhash64` are seed-fixed, so the
    * same corpus + fpp gives the same filter bits on every run and
    * cluster layout. */
  def bloomContaminationPrefilter(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3, fpp: Double = 0.01,
      md5Oracle: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions._
    val tagged = split(docs, idCol)
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n) // token-count filter: see Dedup.minhashSignatures
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol), col("split"), col("sh"))
    val testSh = tagged.filter(col("split") === "test")
      .select(explode(col("sh")).as("shingle"))
    // expectedNumItems sizes the filter; the count is one narrow
    // aggregate over the (small) test split
    val nItems = testSh.count()
    val train = tagged.filter(col("split") === "train")
    if (nItems == 0) {
      // empty test split: a zero-item sketch is degenerate, and
      // semantically nothing can be contaminated
      train.select(col(idCol).as("train_doc"), col("sh"), lit(false).as("bloom_hit"))
    } else if (md5Oracle) {
      md5BloomPrefilter(tagged, testSh, train, nItems, idCol)
    } else {
      val bfBytes = shingleBloomBytes(docs.sparkSession, testSh, nItems, fpp)
      val probe = exists(col("sh"),
        s => call_function("might_contain", lit(bfBytes), xxhash64(s)))
      train.select(col(idCol).as("train_doc"), col("sh"),
        coalesce(probe, lit(false)).as("bloom_hit"))
    }
  }

  /** The md5-double-hash ORACLE mode of [[bloomContaminationPrefilter]]
    * (r8 verdict item 3, the q31/q35 upgrade applied to the Bloom
    * family): a Bloom filter is nothing but a bit SET plus k hash
    * functions, so with Kirsch–Mitzenmacher positions from the md5
    * family — pos_i(s) = (h1(s) mod m + i·(h2(s) mod m)) mod m,
    * h1/h2 integer reads of the md5 hex string (`plans.Sketches
    * .Md5Hash`) — the bits become a relation any engine can rebuild:
    * `bits = distinct positions over the test shingles`, and a train
    * shingle HITS iff all of its k positions are set. Same
    * no-false-negative guarantee (every test shingle's positions are
    * in `bits` by construction); false-positive rate governed by the
    * same m/n, k trade.
    *
    * Sizing is INTEGER-ONLY so both engines derive identical geometry
    * with zero floating-point (a libm last-ulp difference in
    * `ceil(-n·ln fpp / ln²2)` would silently flip every bit
    * position): m = max(64, 10·nItems) bits — the fpp = 0.01 optimum
    * of 9.585 bits/item rounded up — and k = 7 = round(ln 2 · 10).
    *
    * Shape: the production binary-sketch mode probes row-locally with
    * no shuffle and stays the 100 TB default; this mode pays one
    * broadcast join of the (KB-scale) bit relation per probed
    * position — the price of cross-engine replicability, paid only
    * when an external auditor must replay the filter. */
  private def md5BloomPrefilter(tagged: DataFrame, testSh: DataFrame,
      train: DataFrame, nItems: Long, idCol: String): DataFrame = {
    val m = math.max(64L, 10L * nItems)
    val k = 7
    // k positions of the shingle in column `__s`
    val positions: Column =
      expr(s"transform(sequence(0, ${k - 1}), i -> pmod(" +
        s"pmod(cast(conv(substring(md5(__s), 1, 15), 16, 10) as bigint), ${m}L)" +
        s" + i * pmod(cast(conv(substring(md5(__s), 17, 13), 16, 10) as bigint), ${m}L), ${m}L))")
    val bits = testSh.select(col("shingle").as("__s"))
      .distinct()
      .select(explode(positions).as("pos"))
      .distinct()
    val docHits = train
      .select(col(idCol).as("train_doc"), explode(col("sh")).as("__s"))
      .select(col("train_doc"), col("__s"),
        posexplode(positions).as(Seq("__i", "pos")))
      .join(broadcast(bits.withColumn("__set", lit(true))), Seq("pos"), "left")
      .groupBy("train_doc", "__s")
      // min(bool) = AND over the shingle's k positions; max = OR over
      // the doc's shingles
      .agg(min(coalesce(col("__set"), lit(false))).as("__sh_hit"))
      .groupBy("train_doc")
      .agg(max(col("__sh_hit")).as("bloom_hit"))
    train.select(col(idCol).as("train_doc"), col("sh"))
      .join(docHits, Seq("train_doc"), "left")
      .select(col("train_doc"), col("sh"),
        coalesce(col("bloom_hit"), lit(false)).as("bloom_hit"))
  }

  /** Shared native-bloom build over a `shingle` column: optimal bit
    * count for the target fpp (floored at 64 so tiny sets still get a
    * valid sketch), conf caps raised for the aggregation and restored
    * after (BloomFilterAggregate validates against the runtime-filter
    * caps and a clamped sketch would SILENTLY degrade the realized
    * fpp). Returns the KB-scale sketch bytes. */
  private def shingleBloomBytes(spark: SparkSession, shingleDf: DataFrame,
      nItems: Long, fpp: Double): Array[Byte] = {
    val numBits = math.max(64L,
      math.ceil(-nItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val capKeys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems" -> nItems,
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits" -> numBits)
    val prevCaps = capKeys.map { case (k, need) =>
      val prev = spark.conf.get(k)
      if (prev.toLong < need) spark.conf.set(k, need.toString)
      k -> prev
    }
    try shingleDf
      .agg(call_function("bloom_filter_agg",
        xxhash64(col("shingle")), lit(nItems), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    finally prevCaps.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** GPT-3-style benchmark DECONTAMINATION (Brown et al. 2020 App. C;
    * the removal stage q59/q84 only report): drop every training
    * document sharing any n-token shingle with a benchmark set.
    *
    * The 100 TB funnel, in one operator: (1) the benchmark's distinct
    * shingles build a native mergeable Bloom sketch (KB-scale,
    * broadcast as a literal); (2) every training doc probes it ROW-
    * LOCALLY — a scan with no shuffle, and the no-false-negative
    * guarantee means unflagged docs are provably clean; (3) only
    * bloom-flagged docs enter the exact shingle equi-join (per-mille
    * leakage ⇒ the join input shrinks by orders of magnitude);
    * (4) the verdict joins back LEFT so clean docs pass through
    * untouched. Output = the training side plus `contaminated`,
    * `n_bench_docs`, `max_shared` — filter `contaminated = 0` for the
    * clean corpus. Bloom false positives cost only exact-stage work,
    * never a wrong verdict, so results are engine-exact (DuckDB
    * restates the pure exact join). */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 13,
      idCol: String = "doc_id", textCol: String = "text",
      fpp: Double = 0.01): DataFrame = {
    import graft.functions.TextFunctions._
    val spark = train.sparkSession
    val trainSh = train
      .withColumn("__toks", tokens(textCol))
      .withColumn("__sh", shingles("__toks", n))
      .drop("__toks")
    val benchSh = bench
      .withColumn("__toks", tokens(textCol))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol).as("bench_doc"), explode(shingles("__toks", n)).as("shingle"))
    val nItems = benchSh.count()
    val flagged =
      if (nItems == 0) trainSh.withColumn("__hit", lit(false))
      else {
        val bfBytes = shingleBloomBytes(spark, benchSh.select("shingle"), nItems, fpp)
        trainSh.withColumn("__hit", coalesce(
          exists(col("__sh"), sh => call_function("might_contain", lit(bfBytes), xxhash64(sh))),
          lit(false)))
      }
    val exact = flagged.filter(col("__hit"))
      .select(col(idCol), explode(col("__sh")).as("shingle"))
      .join(benchSh, Seq("shingle"))
      .groupBy(idCol, "bench_doc").agg(count(lit(1)).as("__shared"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bench_docs"), max("__shared").as("max_shared"))
    flagged.drop("__sh", "__hit")
      .join(exact, Seq(idCol), "left")
      .withColumn("n_bench_docs", coalesce(col("n_bench_docs"), lit(0L)))
      .withColumn("max_shared", coalesce(col("max_shared"), lit(0L)))
      .withColumn("contaminated", (col("n_bench_docs") > 0).cast("int"))
  }

  /** Deterministic sequence packing: assign documents to fixed-token-
    * budget training sequences by running a per-shard cumulative token
    * count and cutting at budget boundaries — the streaming "concat
    * and chunk" packing used to form pretraining examples. Sharding
    * first (`idCol % shards`) keeps every window partition-local: the
    * cumsum never needs a global single-partition sort, so the operator
    * parallelizes to any cluster width (shards ≈ executor count at
    * scale). Deterministic order (idCol within shard) ⇒ identical
    * packing on every run. */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
      budgetTokens: Int = 4096, shards: Int = 8,
      extraKeys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(("shard" +: extraKeys).map(col): _*).orderBy(col(idCol))
    df.withColumn("n_tokens", nTokens)
      .withColumn("shard", pmod(col(idCol), lit(shards)))
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .withColumn("seq_id",
        floor((col("cum_tokens") - col("n_tokens")) / budgetTokens).cast("long"))
  }

  /** Exact-size deterministic per-stratum sample: exactly
    * `min(k, |stratum|)` rows per group, chosen by hash rank — the
    * fixed-budget counterpart of [[stratifiedSample]] (which keeps a
    * FRACTION). "Exactly 100k docs per language" is the usual corpus
    * spec, and a fraction can't deliver it. Hash-ranked, so the chosen
    * set is stable across runs/engines/cluster sizes AND stable under
    * corpus growth in the sense that membership changes only at the
    * rank boundary. One window shuffle on the stratum key. */
  def fixedSizeSample(df: DataFrame, key: String, stratum: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratum)).orderBy(md5(col(key).cast("string")), col(key))
    val rank = "__graft_sample_rank" // avoid colliding with caller columns
    df.withColumn(rank, row_number().over(w))
      .filter(col(rank) <= k)
      .drop(rank)
  }

  /** Class-balanced downsample: every class cut to the MINORITY
    * class's size, membership chosen by hash rank — the standard
    * rebalancing move before training a classifier on skewed labels
    * (a 95/5 class mix otherwise teaches the majority prior). Pure
    * composition: the min class size is one scalar aggregate (the
    * 1-row-collect class, like the t-quantile), then
    * [[fixedSizeSample]] with that k — same hash-rank determinism,
    * same one-window-shuffle scale shape, stratified by the class
    * column. At extreme per-class cardinality compose with the
    * native `topk_agg` (q179) instead of the rank window — the
    * equivalence is already driver-proven there. */
  def classBalancedSample(df: DataFrame, key: String, classCol: String): DataFrame = {
    val row = df.where(col(classCol).isNotNull)
      .groupBy(col(classCol)).agg(count(lit(1)).as("n"))
      .agg(min("n")).head()
    // no classes at all (empty input / all-null class) → empty sample,
    // not an NPE on the null min
    if (row.isNullAt(0)) return df.where(lit(false))
    val kMin = row.getLong(0)
    // fixedSizeSample's rank cut is Int-typed; a minority class beyond
    // Int.MaxValue rows means "balance" would keep >2^31 rows per class
    // — refuse loudly rather than truncate the cut silently
    require(kMin <= Int.MaxValue,
      s"minority class has $kMin rows — beyond the exact-rank cut; " +
        "downsample by hash threshold (stratifiedSample) first")
    fixedSizeSample(df.where(col(classCol).isNotNull), key, classCol, kMin.toInt)
  }

  /** Deterministic NEGATIVE sampling — the contrastive-pair generator
    * for recommender/embedding training: for every entity, k pseudo-
    * random draws from the item vocabulary, minus any draw that
    * collides with an OBSERVED positive (exclusion via anti-join, the
    * part naive random sampling gets wrong). Draws are md5-indexed
    * (`hash(entity:i) mod |items|`), so the sample is reproducible
    * across runs, engines, and cluster sizes — and restatable in
    * oracle SQL.
    *
    * Scale shape: candidates are |entities|·k narrow rows; the ranked
    * item vocabulary broadcasts (vocab-sized); exclusion is one
    * equi-anti-join on (entity, item). Entities can yield < k
    * negatives two ways — a draw collides with a positive (anti-join
    * drops it), or two draws hash to the SAME item (deduped here,
    * keeping the lowest draw, so no negative is silently
    * double-weighted in training). Documented contract: the caller
    * resamples or accepts the deficit; deterministic re-draw rounds
    * compose this same operator with a shifted salt. */
  def negativeSamples(df: DataFrame, entityCol: String, itemCol: String,
      k: Int = 3): DataFrame = {
    require(k >= 1, "k must be positive")
    // three consumers (item vocabulary, entity list, the exclusion
    // anti-join) read `pos`, but all three share the IDENTICAL
    // distinct subplan, so exchange reuse serves the aggregated pairs
    // from shuffle files without recomputing the upstream join — the
    // same mechanism a localCheckpoint would buy, minus the extra
    // materialization (measured: pinning this frame made q203 64%
    // slower at sf0.1). ScanAudit's multi-scan count on this query is
    // the AQE-off view; the reused exchanges are in its own output.
    val pos = df.select(col(entityCol).as("entity"), col(itemCol).as("item"))
      .where(col("entity").isNotNull && col("item").isNotNull)
      .distinct()
    // bounded window (r16 audit): the item vocabulary is BROADCAST
    // into the draw join below, so this frame is already required to
    // be broadcast-small — the unpartitioned rank rides the same bound
    // (a vocabulary too big for it is too big for the join itself)
    val items = pos.select(col("item")).distinct()
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("item")))
    val nItems = items.groupBy().agg(count(lit(1)).as("__n"))
    val cands = pos.select("entity").distinct()
      .select(col("entity"), explode(sequence(lit(1), lit(k))).as("draw"))
      .crossJoin(broadcast(nItems))
      .withColumn("__rn", pmod(
        conv(substring(md5(concat(col("entity").cast("string"), lit(":"),
          col("draw").cast("string"))), 1, 6), 16, 10).cast("long"),
        col("__n")) + 1)
      .join(broadcast(items), Seq("__rn"))
    cands.join(pos, Seq("entity", "item"), "left_anti")
      .groupBy("entity", "item").agg(min("draw").as("draw"))
      .select(col("entity"), col("draw"), col("item"))
      .orderBy("entity", "draw")
  }

  /** Packing-efficiency audit — the planning readout BEFORE running
    * [[packSequences]]/[[chunkTokens]] over 100 TB: for a context
    * budget B, what fraction of trained-on tokens would be padding or
    * overflow under each packing policy?
    *
    *   - `truncate`: one sequence per document, cut at B — overflow =
    *     Σ max(len−B, 0), padding = Σ (B − min(len, B));
    *   - `chunk`: each document split into ⌈len/B⌉ sequences (the q92
    *     shape) — no overflow, padding = Σ (⌈len/B⌉·B − len);
    *   - `concat`: cross-document stream packing (the q60 shape's
    *     lower bound) — ⌈T/B⌉ sequences, padding = ⌈T/B⌉·B − T.
    *
    * ONE aggregate over the length frame computes every policy's
    * integer sums; the 3-row report is arithmetic on that single row.
    * All counts are exact integers; efficiency = used/(seqs·B) is the
    * only division, rounded at 6. */
  def packingAudit(df: DataFrame, nTokens: Column, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val b = lit(budget.toLong)
    val len = nTokens.cast("long")
    val agg = df.select(len.as("__len")).where(col("__len").isNotNull)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__len")).as("t"),
        sum(least(col("__len"), b)).as("kept_trunc"),
        sum(greatest(col("__len") - b, lit(0L))).as("overflow_trunc"),
        sum(ceil(col("__len") / b.cast("double")).cast("long")).as("seqs_chunk"))
    val spark = df.sparkSession
    import spark.implicits._
    val policies = Seq("1_truncate", "2_chunk", "3_concat").toDF("policy")
    policies.crossJoin(broadcast(agg))
      .select(col("policy"),
        when(col("policy") === "1_truncate", col("n_docs"))
          .when(col("policy") === "2_chunk", col("seqs_chunk"))
          .otherwise(ceil(col("t") / b.cast("double")).cast("long")).as("n_seqs"),
        when(col("policy") === "1_truncate", col("kept_trunc"))
          .otherwise(col("t")).as("used_tokens"),
        when(col("policy") === "1_truncate", col("overflow_trunc"))
          .otherwise(lit(0L)).as("overflow_tokens"))
      .withColumn("padded_tokens", col("n_seqs") * b - col("used_tokens"))
      .withColumn("efficiency",
        round(col("used_tokens") / (col("n_seqs") * b).cast("double"), 6))
      .orderBy("policy")
  }

  /** Per-stratum quality calibration: percent_rank of a raw quality
    * signal WITHIN each stratum — the cross-language comparability move
    * (a length/quality threshold tuned on English silently drops most
    * of a lower-resource language unless scores are calibrated
    * per-language first). Pure window pass; `calibrated` ∈ [0, 1]. */
  def calibrateQuality(df: DataFrame, stratum: String, quality: Column,
      tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratum)).orderBy(quality, tieBreak)
    df.withColumn("calibrated", round(percent_rank().over(w), 6))
  }

  /** Preference-pair mining — the DPO/RLHF training-pair builder: from
    * a pool of scored candidates grouped by a prompt key, emit ONE
    * (chosen, rejected) pair per group — chosen = the score-argmax,
    * rejected = the score-argmin — and drop groups whose score margin
    * is below `minMargin` (a pair with no separation carries no
    * preference signal; DPO's loss gradient vanishes as the margin
    * does). Ties break on the id INSIDE the argmax key (struct(score,
    * id)), so the pair is deterministic for any input order.
    *
    * Scale shape: ONE aggregate over the candidate pool — min_by and
    * max_by over a (score, id) struct key both partial-aggregate
    * map-side, so each upstream partition pre-reduces to one
    * candidate-pair per prompt before the only shuffle, and the output
    * is PROMPT-scale, never candidate-scale. No window, no sort, no
    * self-join — the naive formulation (a row_number window per
    * prompt, or a min-score×max-score self-join) pays a per-prompt
    * sort or a second shuffle for the same answer. */
  def preferencePairs(df: DataFrame, groupCols: Seq[String],
      score: Column, id: Column, minMargin: Column): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(
        max_by(id, struct(score.as("s"), id.as("i"))).as("chosen_id"),
        min_by(id, struct(score.as("s"), id.as("i"))).as("rejected_id"),
        max(score).as("chosen_score"),
        min(score).as("rejected_score"),
        count(lit(1)).as("n_candidates"))
      .withColumn("margin", col("chosen_score") - col("rejected_score"))
      .filter(col("margin") >= minMargin)

  /** Length-bucketed batching padding audit — the micro-batch shaping
    * decision every fixed-context trainer makes: group rows into
    * `batchSize`-row batches, pad each batch to its longest member,
    * and cost two assignments side by side — `length_sorted` (batch
    * neighbors have near-equal lengths, the bucketed-batching win) vs
    * `hashed` (md5-random grouping, the no-bucketing baseline).
    * Returns one summary row per strategy: batch count, real vs
    * padded totals, and the padding-waste percentage.
    *
    * Scale shape: the length-ordered rank is the q290 histogram-rank
    * two-phase — phase 1 prefix-sums a LENGTH histogram (bounded by
    * distinct lengths, not rows; the ordered window runs over that
    * histogram, never the corpus), phase 2 resolves within-length
    * order by id in a window whose partition is ONE length class.
    * The hashed assignment and both summaries are plain map-side-
    * combinable aggregates. Every total is BIGINT; waste_pct divides
    * the same two BIGINTs on both engines. */
  def lengthBatchingAudit(df: DataFrame, idCol: String, lenCol: String,
      batchSize: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val B = batchSize
    val rows = graft.plans.Pin.lazily(
      df.select(col(idCol).as("__id"), col(lenCol).cast("long").as("__len")))
    val nb = rows.agg(count(lit(1)).as("nd")).select(expr(s"(nd + ${B - 1}) div $B").as("nb"))
    val hist = rows.groupBy("__len").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum_before",
      coalesce(sum("cnt").over(Window.orderBy("__len")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val sorted = rows.join(cum.select("__len", "cum_before"), Seq("__len"))
      .withColumn("rank", col("cum_before") +
        row_number().over(Window.partitionBy("__len").orderBy("__id")))
      .withColumn("batch", expr(s"(rank - 1) div $B"))
    val hashed = rows.crossJoin(broadcast(nb))
      .withColumn("batch", pmod(
        conv(substring(md5(col("__id").cast("string")), 1, 15), 16, 10).cast("long"),
        col("nb")))
    def summarize(d: DataFrame, name: String): DataFrame =
      d.groupBy("batch")
        .agg(count(lit(1)).as("cnt"), max("__len").as("mx"), sum("__len").as("tot"))
        .agg(count(lit(1)).as("n_batches"), sum("cnt").as("n_docs"),
          sum("tot").as("real_tokens"),
          sum(col("cnt") * col("mx")).as("padded_tokens"))
        .select(lit(name).as("strategy"), col("n_batches"), col("n_docs"),
          col("real_tokens"), col("padded_tokens"),
          round(lit(100.0) * (col("padded_tokens") - col("real_tokens")) /
            col("padded_tokens"), 4).as("waste_pct"))
    summarize(hashed, "hashed")
      .unionByName(summarize(sorted, "length_sorted"))
      .orderBy("strategy")
  }

  /** Overlapping token-window chunking — the context-window shaping
    * step of RAG indexing and long-document pretraining: each document
    * becomes ceil-spaced windows of `chunkSize` tokens advancing by
    * `stride` (stride < chunkSize ⇒ overlap preserves cross-boundary
    * context). Entirely row-local — tokenize, a generated start-index
    * sequence, and an explode; no shuffle at any scale, and chunk
    * text/ids are pure arithmetic both engines replicate (full hash
    * oracle). Documents shorter than one window yield exactly one
    * chunk; `chunk_id` counts from 0 in token order. */
  def chunkTokens(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkSize > 0, "chunkSize and stride must be positive")
    df.withColumn("toks", graft.functions.TextFunctions.tokens(textCol))
      .withColumn("n_toks", size(col("toks")))
      .filter(col("n_toks") >= 1)
      .withColumn("n_chunks",
        (lit(1) + ceil(greatest(col("n_toks") - chunkSize, lit(0)).cast("double") / stride))
          .cast("int"))
      .select(col(idCol), col("toks"), col("n_toks"),
        posexplode(expr(s"transform(sequence(0, n_chunks - 1), i -> i * $stride)"))
          .as(Seq("chunk_id", "start_tok")))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        expr(s"slice(toks, start_tok + 1, $chunkSize)").as("chunk_toks"))
      .select(col(idCol), col("chunk_id"), col("start_tok"),
        size(col("chunk_toks")).as("chunk_len"),
        md5(array_join(col("chunk_toks"), " ")).as("chunk_fp"))
  }

  /** Deterministic epoch shuffle WITHOUT a global sort — the
    * 100 TB-correct way to randomize training-example order: each row
    * gets an epoch-salted hash `sort_key` and a `batch_id` (hash
    * bucket of the sort key); readers consume batches in id order,
    * each batch internally ordered by sort_key. That is a full
    * permutation delivered by ONE narrow map pass — at scale the
    * batch id becomes the repartition/write key and in-batch ordering
    * is a partition-local sort, so nothing ever single-partition
    * sorts. Different epochs produce different permutations; the same
    * epoch always produces the same one (resumable training). */
  def epochShuffle(df: DataFrame, key: String, epoch: Int,
      nBatches: Int = 1024): DataFrame = {
    val sk = md5(concat_ws(":", lit("epoch"), lit(epoch), col(key).cast("string")))
    df.withColumn("sort_key", sk)
      .withColumn("batch_id",
        pmod(conv(substring(col("sort_key"), 1, 6), 16, 10).cast("long"), lit(nBatches)))
  }

  /** Greedy token-budget corpus cut: keep the best-scored documents,
    * in (score DESC, tieBreak) order, until a global token budget is
    * exhausted — the "top up to N tokens" selection every pretraining
    * corpus spec ends with. The naive formulation is a running sum over
    * one global ordering, i.e. a single-partition WindowExec that dies
    * at scale; this is the standard two-phase distributed prefix sum
    * instead:
    *
    *   1. bucket each row by a MONOTONE coarse function of the score
    *      (fixed-width slices of the [0, 1] score range — same score ⇒
    *      same bucket, so bucket order agrees with global order),
    *   2. one tiny aggregate (≤ nBuckets rows) produces each bucket's
    *      token total; a window over those ≤ nBuckets rows (driver-
    *      scale, like a k×d centroid table) turns them into per-bucket
    *      OFFSETS — the tokens consumed by all better buckets,
    *   3. the per-row running sum is then a window PARTITIONED BY
    *      bucket (parallel across buckets) plus the broadcast offset.
    *
    * The cut itself is exact and identical to the single-window answer;
    * only the parallelism changed. `score` must be bounded in [0, 1]
    * (use [[calibrateQuality]] first if it isn't); `budgetTokens` may
    * reference any column of `df` (e.g. a crossJoined corpus total, so
    * "60% of all tokens" needs no driver round-trip). Output keeps the
    * caller's columns plus `cum_tokens`, the inclusive running total —
    * a kept row's cum_tokens never exceeds the budget. */
  def tokenBudgetCut(df: DataFrame, score: Column, tieBreak: Column,
      nTokens: Column, budgetTokens: Column, nBuckets: Int = 32): DataFrame =
    budgetPrefixCut(df, Nil, score, tieBreak, nTokens, budgetTokens, nBuckets)

  /** Multi-source corpus mixing at declared TOKEN ratios (the
    * Pile/Dolma recipe: per-source token budgets, not row fractions):
    * within each source, keep best-quality-first until that source's
    * budget is exhausted. Same two-phase prefix sum as
    * [[tokenBudgetCut]] with every phase additionally keyed by the
    * source column — the offsets frame grows to |sources|·nBuckets
    * rows (still driver-scale) and the per-row running sums stay
    * (source, bucket)-partitioned windows, so nothing becomes a
    * single-partition pass however large one source is.
    * `budgetTokens` may reference any input column, so per-source
    * budgets arrive as a joined/derived column. */
  def tokenBudgetMix(df: DataFrame, sourceCol: String, score: Column, tieBreak: Column,
      nTokens: Column, budgetTokens: Column, nBuckets: Int = 32): DataFrame =
    budgetPrefixCut(df, Seq(sourceCol), score, tieBreak, nTokens, budgetTokens, nBuckets)

  /** Shared two-phase distributed prefix-sum core of
    * [[tokenBudgetCut]] (partCols = none: one global cut) and
    * [[tokenBudgetMix]] (partCols = source): quality-band buckets →
    * per-(partCols, bucket) running sums → cross-bucket offsets from a
    * tiny aggregate. */
  private def budgetPrefixCut(df: DataFrame, partCols: Seq[String], score: Column,
      tieBreak: Column, nTokens: Column, budgetTokens: Column, nBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 1, "nBuckets must be positive")
    val b = df.withColumn("__toks", nTokens.cast("long"))
      .withColumn("__score", score)
      .withColumn("__bucket",
        greatest(lit(0), least(floor(col("__score") * nBuckets).cast("int"), lit(nBuckets - 1))))
    // ≤ |partCols groups|·nBuckets rows: the offsets window is the
    // legitimate driver-scale kind, not the per-row kind step 3 avoids
    val offsets = b.groupBy((partCols :+ "__bucket").map(col): _*)
      .agg(sum("__toks").as("__btotal"))
      .withColumn("__offset", coalesce(
        sum("__btotal").over(Window.partitionBy(partCols.map(col): _*)
          .orderBy(col("__bucket").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__btotal")
    val w = Window.partitionBy((partCols :+ "__bucket").map(col): _*)
      .orderBy(col("__score").desc, tieBreak)
    b.join(broadcast(offsets), partCols :+ "__bucket")
      .withColumn("cum_tokens", col("__offset") + sum("__toks").over(w))
      .filter(col("cum_tokens") <= budgetTokens)
      .drop("__bucket", "__offset", "__toks", "__score")
  }

  /** Corpus snapshot diff: compare two versions of a keyed dataset by
    * content fingerprint and emit one row per key whose status is not
    * `unchanged` (`added` / `removed` / `changed`, with both sides'
    * fingerprints). This is the audit step between two corpus builds —
    * "what did the new crawl/filter pass actually change" — and the
    * input to incremental downstream work (only `added`+`changed` keys
    * need re-embedding, re-dedup, re-indexing).
    *
    * Scale design: one full-outer equi-join on the key — the canonical
    * bucketable join (both snapshots bucketed by key at 100 TB makes it
    * exchange-free). Fingerprints are computed map-side (md5 over the
    * concatenated content columns with a field separator that cannot
    * collide adjacent fields), so the join carries (key, 32-byte fp),
    * never the content itself — at 100 TB the shuffle is keys + hashes,
    * not documents. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keyCol: String,
      contentCols: Seq[String]): DataFrame = {
    def fp(df: DataFrame): DataFrame = df.select(col(keyCol),
      md5(concat_ws("", contentCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*))
        .as("fp"))
    val o = fp(oldDf).withColumnRenamed("fp", "old_fp")
    val n = fp(newDf).withColumnRenamed("fp", "new_fp")
    o.join(n, Seq(keyCol), "full_outer")
      .withColumn("status",
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("status") =!= "unchanged")
  }

  /** Compact a DataFrame to ~targetMB output files using the
    * optimizer's size estimate — the small-files remedy at the end of
    * any large pipeline stage. */
  def compact(df: DataFrame, targetMB: Int = 128): DataFrame = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // a no-stats plan reports ~Long.MaxValue bytes — any partition
    // count derived from it is garbage in BOTH directions (one
    // partition after a negative .toInt wrap, or a 2^20-partition
    // shuffle after a naive cap). Compacting blind would pay a full
    // shuffle of an unknown-size frame for zero benefit, so return the
    // frame unchanged.
    if (bytes >= BigInt(Long.MaxValue) / 2) {
      df
    } else {
      val parts = (bytes / (targetMB.toLong * 1024 * 1024))
        .min(BigInt(1 << 20)).max(BigInt(1)).toInt
      df.repartition(parts)
    }
  }

  /** The end-to-end curation funnel — the whole pre-training data
    * pipeline as ONE operator with per-stage attrition accounting,
    * composing the individually-oracled stages in their production
    * order: raw → train split ([[split]]) → quality cut (the q115
    * score) → exact dedup (min-id per md5 fingerprint) → benchmark
    * decontamination (exact `shingleN`-gram join against the test
    * split — GPT-3 App. C) → token budget (the q113 two-phase prefix
    * cut at `budgetFrac` of surviving tokens). Output: one row per
    * stage with docs and tokens remaining — the attrition table every
    * corpus release publishes.
    *
    * Scale shape: one narrow (id, split, tokens, quality, fp) frame is
    * checkpointed and every stage filter/join works off it; text is
    * re-read only for the decontamination shingle join (restricted to
    * stage-4 survivors and the test split). The budget cut reuses
    * [[tokenBudgetCut]]'s bucketed prefix sums — no corpus-wide
    * ordered window anywhere. */
  def curationFunnel(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", minQuality: Double = 0.3,
      budgetFrac: Double = 0.6, shingleN: Int = 13): DataFrame = {
    import graft.functions.TextFunctions._
    val narrow = split(docs, idCol)
      .withColumn("__toks", tokens(textCol))
      .withColumn("__n", size(col("__toks")).cast("long"))
      .withColumn("__q", round(
        least(col("__n") / lit(50.0), lit(1.0)) *
          (lit(1.0) - expr("size(filter(__toks, x -> x IN ('the','a')))")
            / col("__n")), 4))
      .select(col(idCol), col("split"), col("__n"), col("__q"),
        md5(col(textCol)).as("__fp"))
      .transform(Pin.lazily)
    val s2 = narrow.filter(col("split") === "train")
    val s3 = s2.filter(col("__q") >= minQuality)
    val keepIds = s3.groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    val s4 = s3.join(keepIds, Seq(idCol), "left_semi")
    def shinglesOf(ids: DataFrame) = docs
      .join(ids, Seq(idCol), "left_semi")
      .withColumn("__toks", tokens(textCol))
      .filter(size(col("__toks")) >= shingleN)
      .select(col(idCol), explode(shingles("__toks", shingleN)).as("shingle"))
    val testSh = shinglesOf(narrow.filter(col("split") === "test")
      .select(idCol)).select("shingle").distinct()
    val contaminated = shinglesOf(s4.select(idCol))
      .join(testSh, Seq("shingle")).select(idCol).distinct()
    val s5 = s4.join(contaminated, Seq(idCol), "left_anti")
      .transform(Pin.lazily) // budget stage consumes it twice
    val budget = s5.agg(floor(sum("__n") * budgetFrac).cast("long").as("__b"))
    val s6 = tokenBudgetCut(s5.crossJoin(broadcast(budget)),
      col("__q"), col(idCol), col("__n"), col("__b"))
    def stage(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum("__n"), lit(0L)).as("n_tokens"))
        .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
    Seq(stage("1_raw", narrow), stage("2_train_split", s2),
      stage("3_quality", s3), stage("4_dedup", s4),
      stage("5_decontaminate", s5), stage("6_token_budget", s6))
      .reduce(_ unionByName _)
      .orderBy("stage")
  }

  /** Water-filling token-budget allocation across sources — the
    * PLANNING step in front of [[tokenBudgetMix]]: given each source's
    * available tokens aₛ and a relative integer weight wₛ, split a
    * global budget B as allocₛ = min(aₛ, λ·wₛ) with the water level λ
    * chosen so the allocations sum to min(B, Σa) — small sources
    * saturate, the surplus redistributes by weight (the DoReMi-style
    * static mix with availability caps).
    *
    * Exactness: λ never materializes as a float. Sources sort by the
    * saturation ratio aₛ/wₛ; with i sources saturated, the segment
    * test and the unsaturated allocation are pure integer arithmetic —
    *   saturated:  aᵢ·W̄ᵢ ≤ (B′−Sᵢ)·wᵢ,   alloc = (B′−Sᵢ)·wₛ div W̄ᵢ
    * (Sᵢ = saturated availability, W̄ᵢ = unsaturated weight, B′ =
    * min(B, Σa)) — identical in any int64 engine; floors leave at
    * most one token per unsaturated source unallocated (documented
    * remainder). The frame is SOURCES-sized, so the one ordered
    * window is the bounded-aggregate kind.
    *
    * @param budget 1-row frame with a `budget` column (often derived:
    *               `avail.agg(floor(sum(a) * frac))`) */
  def waterFillAllocation(avail: DataFrame, sourceCol: String,
      availCol: String, weightCol: String, budget: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val a0 = avail.select(col(sourceCol).as("source"),
        col(availCol).cast("long").as("a"),
        col(weightCol).cast("long").as("wt"))
      .filter(col("a") >= 0 && col("wt") > 0)
    val totals = a0.agg(sum("a").as("__ta"), sum("wt").as("__tw"),
        count(lit(1)).as("__n"))
      .crossJoin(broadcast(budget.select(col("budget").cast("long").as("__b"))))
      .withColumn("__bp", least(col("__b"), col("__ta")))
    // sources-sized frame: ONE ordered window over it is bounded by
    // the source count, never row-scale
    val w = Window.orderBy(col("a") * lit(1.0) / col("wt"), col("source"))
    val ranked = a0.crossJoin(broadcast(totals))
      .withColumn("__i", row_number().over(w))
      .withColumn("__s", sum("a").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__wsuf", col("__tw") - sum("wt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__nextA", lead("a", 1).over(w))
      .withColumn("__nextW", lead("wt", 1).over(w))
      .transform(Pin.lazily)
    val zero = totals.select(lit(0L).as("__i"), lit(0L).as("__s"),
      col("__tw").as("__wsuf"), col("__bp"))
    val candI = ranked.select(col("__i"), col("__s"), col("__wsuf"), col("__bp"),
      col("a"), col("wt"), col("__nextA"), col("__nextW"))
    val iStar = candI
      .filter(col("a") * col("__wsuf") <= (col("__bp") - col("__s")) * col("wt"))
      .select("__i", "__s", "__wsuf", "__bp")
      .unionByName(zero)
      // the boundary row: its saturated set is consistent AND the next
      // source (if any) is NOT saturated at this water level — on an
      // exact-boundary tie both candidates allocate identically, so
      // min i is a pure determinism choice
      .join(broadcast(ranked.select(col("__i").as("__inext"),
        col("a").as("__na"), col("wt").as("__nw"))),
        col("__inext") === col("__i") + 1, "left")
      .filter(col("__na").isNull ||
        col("__na") * col("__wsuf") > (col("__bp") - col("__s")) * col("__nw"))
      .orderBy("__i").limit(1)
    ranked.crossJoin(broadcast(
        iStar.select(col("__i").as("__istar"), col("__s").as("__sstar"),
          col("__wsuf").as("__wstar"))))
      .select(col("source"), col("a").as("available"), col("wt").as("weight"),
        when(col("__i") <= col("__istar"), col("a"))
          .otherwise(expr("(__bp - __sstar) * wt div __wstar"))
          .as("allocated"),
        (col("__i") <= col("__istar")).as("saturated"),
        col("__bp").as("effective_budget"))
      .orderBy("source")
  }

  /** Corpus datasheet card — the "Datasheets for Datasets" summary
    * (Gebru et al., CACM 2021) a training corpus ships with: one LONG
    * frame (section, key, value) so the schema never changes as
    * sections grow. Sections:
    *  - `count`: total docs; `count_<dim>`: per-value doc counts for
    *    each dimension column (language, source, …);
    *  - `len_chars`: min/mean/max plus EXACT p50/p90 document length
    *    ([[Quantiles.exactQuantiles]] — two-phase histogram, no
    *    global sort, checkpointed input);
    *  - `dup`: exact-duplicate accounting (md5 text groups): number
    *    of duplicated fingerprints and docs sitting in them — the
    *    headline "X% of the corpus is copies" number.
    *
    * Scale shape: every section is one aggregate over the pruned
    * (dims, length, text-hash) projection, checkpointed once and
    * shared — adding a section adds an aggregate over the SAME
    * materialized narrow frame, never a new corpus scan. Values are
    * doubles rounded at 4 (counts are exact integers in double well
    * below 2⁵³). */
  def corpusCard(docs: DataFrame, textCol: String,
      dimCols: Seq[String]): DataFrame = {
    val base = docs.select(
        (dimCols.map(col) :+ length(col(textCol)).cast("double").as("__len"))
          :+ md5(col(textCol)).as("__fp"): _*)
      .filter(col("__len").isNotNull)
      .transform(Pin.lazily)
    def row(section: Column, key: Column, value: Column): Column =
      struct(section.as("section"), key.cast("string").as("key"),
        round(value.cast("double"), 4).as("value"))
    val total = base.agg(explode(array(
      row(lit("count"), lit("total"), count(lit(1))),
      row(lit("len_chars"), lit("min"), min("__len")),
      row(lit("len_chars"), lit("mean"), avg("__len")),
      row(lit("len_chars"), lit("max"), max("__len")))).as("r"))
    val dims = dimCols.map { c =>
      base.groupBy(col(c)).agg(count(lit(1)).as("__n"))
        .select(row(lit(s"count_$c"), coalesce(col(c).cast("string"), lit("null")),
          col("__n")).as("r"))
    }
    val qs = Quantiles.exactQuantiles(base, "__len", Seq(0.5, 0.9),
        checkpointInput = false)
      .select(row(lit("len_chars"),
        concat(lit("p"), (col("q") * 100).cast("int")), col("value")).as("r"))
    val dup = base.groupBy("__fp").agg(count(lit(1)).as("__copies"))
      .filter(col("__copies") > 1)
      .agg(explode(array(
        row(lit("dup"), lit("dup_fingerprints"), count(lit(1))),
        row(lit("dup"), lit("dup_docs"), coalesce(sum("__copies"), lit(0L)))))
        .as("r"))
    (Seq(total) ++ dims ++ Seq(qs, dup)).reduce(_ unionByName _)
      .select(col("r.section").as("section"), col("r.key").as("key"),
        col("r.value").as("value"))
      .orderBy("section", "key")
  }

  /** Per-document n-gram NOVELTY against the training split — the
    * memorization-audit flip side of [[contaminationReport]]: where
    * decontamination asks "which TRAIN docs leak into test", novelty
    * asks "how much of each held-out doc is ALREADY verbatim in the
    * training corpus" (the n-gram overlap audit of GPT-style eval
    * hygiene; high-overlap eval docs measure memorization, not
    * generalization). For each test-split doc: its distinct n-token
    * shingle count, how many of those shingles occur anywhere in the
    * train split, and `novelty` = 1 − seen/total.
    *
    * Scale shape: the train vocabulary is one distinct-aggregating
    * shuffle of (shingle) — map-side combined, no document text ever
    * shuffled; the probe side (test split, per-mille of the corpus)
    * joins on the shingle key. At 100 TB the join input prunes the
    * same way q84 does — a Bloom prefilter of the test shingles can
    * gate the train-vocab scan; kept un-sketched here because the
    * probe side is already the small side. */
  def noveltyReport(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 5): DataFrame = {
    import graft.functions.TextFunctions._
    val tagged = split(docs, idCol)
      .withColumn("toks", tokens(textCol))
      .filter(size(col("toks")) >= n)
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol), col("split"), col("sh"))
    val trainVocab = tagged.filter(col("split") === "train")
      .select(explode(col("sh")).as("shingle")).distinct()
    tagged.filter(col("split") === "test")
      .select(col(idCol).as("test_doc"), explode(col("sh")).as("shingle"))
      .join(trainVocab.withColumn("__seen", lit(true)), Seq("shingle"), "left")
      .groupBy("test_doc")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__seen"), 1L).otherwise(0L)).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen") / col("n_shingles"), 4))
  }
}
