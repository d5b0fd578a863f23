package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column builders for the large-scale training-data
  * pipeline: tokenization, shingling, MinHash signatures, SimHash
  * fingerprints, language-ID scores, quality scoring, token counting.
  *
  * Everything here is a pure Catalyst column expression (built-ins +
  * higher-order functions) — no UDFs, so the work stays distributed,
  * codegen-eligible where the functions support it, and free of
  * driver-side loops. Gnarly higher-order pipelines are written as SQL
  * expression strings for readability; they parse to the same Catalyst
  * trees as the `functions._` builders.
  */
object TextFunctions {

  /** Whitespace tokenization (lowercased). */
  def tokens(text: String): Column =
    expr(s"split(lower(trim($text)), '\\\\s+')")

  /** Distinct n-token shingles ("w1 w2 w3"); empty array when the doc is
    * shorter than n tokens. Input column must be an array<string>.
    * Native [[Shingles]] expression. */
  def shingles(toksCol: String, n: Int = 3): Column =
    expr(s"shingles($toksCol, $n)")

  /** POSITIONAL n-token shingles — one entry per token position,
    * duplicates preserved. The required input for winnowing (window
    * positions must be text positions); use [[shingles]] for
    * set-similarity sketches. Native [[ShingleSeq]] expression. */
  def shingleSeq(toksCol: String, n: Int = 3): Column =
    expr(s"shingle_seq($toksCol, $n)")

  /** MinHash signature of a shingle-set column: k independent universal
    * hashes h_j(s) = (h32(s) * (2j+1) + j) mod 2^61-1, minimized over
    * the set. Backed by the native [[MinHashSig]] expression (each
    * shingle hashed once, primitive inner loop) — the interpreted
    * higher-order formulation re-hashed every shingle k times and was
    * the bench bottleneck. */
  def minhashSignature(shinglesCol: String, k: Int = 32): Column =
    expr(s"minhash_sig($shinglesCol, $k)")

  /** LSH band hashes of a MinHash signature: split into `bands` bands of
    * k/bands rows, hash each band. Docs sharing any band hash are
    * near-duplicate candidates. Native [[MinHashBands]] expression. */
  def bandHashes(sigCol: String, k: Int = 32, bands: Int = 8): Column =
    expr(s"minhash_bands($sigCol, $bands)")

  /** 64-bit SimHash of a token array: per-bit vote of the token hash,
    * sign → bit. Native [[SimHash64]] expression: one hash per token
    * (the interpreted nested-aggregate form hashed each token 64
    * times). */
  def simhash64(toksCol: String): Column =
    expr(s"simhash64($toksCol)")

  /** Rolling polynomial fingerprint over the token stream (order-
    * sensitive, unlike the set-based hashes), computed mod 2^31-1 so
    * every step stays in long range under ANSI arithmetic. The
    * per-token hash is the md5 cross-engine value — the first 15 md5
    * hex digits as an integer, `('0x' || substr(md5(t), 1, 15))::BIGINT`
    * in DuckDB terms — so an external engine can recompute the
    * fingerprint exactly (xxhash64 exists only inside Spark); the
    * max step is acc·1000003 + 2⁶⁰ < 2⁶¹, overflow-free. */
  def rollingFingerprint(toksCol: String): Column =
    expr(
      s"""aggregate($toksCol, cast(0 as bigint),
         |  (acc, t) -> pmod(acc * 1000003L
         |    + cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), 2147483647L))""".stripMargin)

  /** Count of tokens drawn from a marker set (the language-ID / stopword
    * primitive). */
  def markerCount(toksCol: String, markers: Seq[String]): Column = {
    val set = markers.map(m => s"'$m'").mkString(", ")
    expr(s"size(filter($toksCol, t -> t IN ($set)))")
  }

  /** Language-marker sets used by the n-gram/stopword language-ID
    * heuristic. Deterministic, config-style constants. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "table"),
    "es" -> Seq("row", "filter", "group"),
    "fr" -> Seq("merge", "window", "line"),
    "de" -> Seq("hash", "batch", "fast"),
    "zh" -> Seq("spark", "join", "stream"))

  /** BPE-ish token count: alternating letter-runs / digit-runs / single
    * non-alnum chars, via one regexp pass. */
  def bpeTokenCount(text: String): Column =
    expr(s"size(regexp_extract_all($text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
}
