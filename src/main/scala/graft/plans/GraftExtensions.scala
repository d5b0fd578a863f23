package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.graft._
import org.apache.spark.sql.graft.RewriteSimilarityJoin

/** Installs every entry of [[GraftExtensions.functions]] into a
  * session, so graft's native Catalyst expressions are callable from
  * `expr("cosine_sim(a, b)")` and SQL text, and injects the optimizer
  * rule [[RewriteSimilarityJoin]], which plans the similarity-join node.
  * It is the only install path for both. [[graft.GraftSession]] wires
  * it; a session built anywhere else gets the same functions and the
  * same rule from the same static conf:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * The conf is read when the session is created. A session handed back
  * by `getOrCreate` from an earlier builder keeps that builder's
  * extensions, so set the conf on whatever builds the first session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.builder))
    }
    ext.injectOptimizerRule(RewriteSimilarityJoin(_))
  }
}

object GraftExtensions {

  /** One native function: SQL name, usage line and expression builder. */
  final case class NativeFunction(name: String, usage: String,
      builder: Seq[Expression] => Expression)

  private def intLit(e: Expression): Int =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].intValue()

  private def dblLit(e: Expression): Double =
    e.asInstanceOf[Literal].value.asInstanceOf[Number].doubleValue()

  /** The one native-function table. Integer and double parameters must
    * be literals. */
  val functions: Seq[NativeFunction] = Seq(
    NativeFunction("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      e => CosineSimilarity(e(0), e(1))),
    NativeFunction("minhash_sig", "minhash_sig(shingles, k) - k-hash MinHash signature",
      e => MinHashSig(e(0), intLit(e(1)))),
    NativeFunction("simhash64", "simhash64(tokens) - 64-bit SimHash fingerprint",
      e => SimHash64(e(0))),
    NativeFunction("lsh_bucket", "lsh_bucket(emb, nBits, table) - hyperplane sign bucket",
      e => LshBucket(e(0), intLit(e(1)), intLit(e(2)))),
    NativeFunction("shingles", "shingles(tokens, n) - distinct n-token shingles",
      e => Shingles(e(0), intLit(e(1)))),
    NativeFunction("shingle_seq",
      "shingle_seq(tokens, n) - positional n-token shingles, duplicates kept",
      e => ShingleSeq(e(0), intLit(e(1)))),
    NativeFunction("bigram_counts",
      "bigram_counts(tokens) - (w1, bigram, n) per distinct bigram of the row",
      e => BigramCounts(e(0))),
    NativeFunction("minhash_bands", "minhash_bands(sig, bands) - LSH band hashes",
      e => MinHashBands(e(0), intLit(e(1)))),
    NativeFunction("vec_sum", "vec_sum(emb) - element-wise vector sum aggregate",
      e => VectorSum(e(0)).toAggregateExpression()),
    NativeFunction("topk_agg", "topk_agg(id, score, k) - the k best (id, score) pairs of a group",
      e => TopKAgg(e(0), e(1), intLit(e(2))).toAggregateExpression()),
    NativeFunction("hash_features",
      "hash_features(tokens, dim) - xxhash64 bag-of-words counts plus intercept",
      e => HashFeatures(e(0), intLit(e(1)))),
    NativeFunction("hash_features_md5",
      "hash_features_md5(tokens, dim) - hash_features with the md5 cross-engine hash",
      e => HashFeatures(e(0), intLit(e(1)), md5Mode = true)),
    NativeFunction("srp_project",
      "srp_project(emb, m) - projection onto m md5-parity ±1 hyperplanes",
      e => SrpProject(e(0), intLit(e(1)))),
    NativeFunction("srp_band_keys",
      "srp_band_keys(emb, m, bandBits) - SRP sign bits packed msb-first per band",
      e => SrpBandKeys(e(0), intLit(e(1)), intLit(e(2)))),
    NativeFunction("srp_band_keys_lsb",
      "srp_band_keys_lsb(emb, m, bandBits) - SRP sign bits packed lsb-first per band",
      e => SrpBandKeys(e(0), intLit(e(1)), intLit(e(2)), msbFirst = false)),
    NativeFunction("winnow_fingerprints",
      "winnow_fingerprints(shingles, w) - winnowing fingerprint set",
      e => WinnowFingerprints(e(0), intLit(e(1)))),
    // _md5 variants: the cross-engine-auditable hash family (see
    // Md5Hash) — identical structure, hashes any engine can recompute
    // from the md5 hex string
    NativeFunction("winnow_fingerprints_md5",
      "winnow_fingerprints_md5(shingles, w) - winnowing with the md5 cross-engine hash",
      e => WinnowFingerprints(e(0), intLit(e(1)), md5Hash = true)),
    NativeFunction("minhash_sig_md5",
      "minhash_sig_md5(shingles, k) - MinHash signature, md5 double-hash family",
      e => MinHashSigMd5(e(0), intLit(e(1)))),
    NativeFunction("md5_h1_seq",
      "md5_h1_seq(strings) - first 15 md5 hex digits as a long, per element",
      e => Md5H1Seq(e(0))),
    NativeFunction("xxhash64_seq", "xxhash64_seq(strings) - xxhash64 (seed 42) per element",
      e => XxHash64Seq(e(0))),
    NativeFunction("cdc_boundaries_md5",
      "cdc_boundaries_md5(tokens, w, modulus) - content-defined chunk boundaries, md5 window hash",
      e => CdcBoundaries(e(0), intLit(e(1)), intLit(e(2)), poly = false)),
    NativeFunction("cdc_boundaries_poly",
      "cdc_boundaries_poly(tokens, w, modulus) - content-defined chunk boundaries, rolling hash",
      e => CdcBoundaries(e(0), intLit(e(1)), intLit(e(2)), poly = true)),
    NativeFunction("jaro_winkler", "jaro_winkler(s1, s2) - Jaro-Winkler similarity in [0, 1]",
      e => JaroWinkler(e(0), e(1))),
    NativeFunction("simhash64_md5",
      "simhash64_md5(tokens) - 64-bit SimHash with the md5 cross-engine hash",
      e => SimHash64(e(0), md5Hash = true)),
    NativeFunction("morton2", "morton2(x, y) - 32-bit Z-order code of the low 16 bits of x and y",
      e => Morton2(e(0), e(1))),
    NativeFunction("bpe_merge",
      "bpe_merge(tokens, l, r) - greedy left-to-right merge of the pair (l, r)",
      e => BpeMerge(e(0), e(1), e(2))),
    NativeFunction("period_matches",
      "period_matches(tokens, maxP) - per p in 1..maxP, count of i with t[i] = t[i+p]",
      e => PeriodMatches(e(0), intLit(e(1)))),
    NativeFunction("mmr_select",
      "mmr_select(candidates, k, lambda) - maximal-marginal-relevance top-k",
      e => MmrSelect(e(0), intLit(e(1)), dblLit(e(2)))),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain (the
    // distributed sketch build + codegen'd probe behind runtime
    // row-group filtering) but keeps both in its INTERNAL function
    // registry, off the SQL search path. Exposing them makes the
    // build+probe pair fully native: no UDF, no broadcast variable.
    // The probe's sketch side must be foldable (a collected literal)
    // or a scalar subquery per the expression's own input check.
    NativeFunction("bloom_filter_agg",
      "bloom_filter_agg(xxhash64, expectedItems, numBits) - Bloom filter sketch aggregate",
      e => BloomFilterAggregate(e(0), e(1), e(2), 0, 0).toAggregateExpression()),
    NativeFunction("might_contain",
      "might_contain(bloomFilter, xxhash64) - Bloom filter membership probe",
      e => BloomFilterMightContain(e(0), e(1))))
}
