package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Content-defined chunking (CDC) — the rolling-hash boundary
  * discipline of LBFS/restic/rsync applied to token streams: a chunk
  * boundary falls AFTER token i whenever the hash of the last
  * `window` tokens hits `0 mod modulus`, so boundaries are a function
  * of LOCAL CONTENT, not position. Contrast [[Curation.chunkTokens]]
  * (fixed windows): an edit near a document's head shifts every
  * fixed-window chunk after it, invalidating their cached
  * embeddings/dedup fingerprints; CDC boundaries downstream of an
  * edit re-align after ~window tokens, so chunk ids and hashes before
  * the edit are STABLE (spec-asserted) — the property that makes
  * incremental re-embedding of edited corpora cheap.
  *
  * Scale shape: entirely row-local (one explode of per-doc chunk
  * structs — zero shuffles before whatever consumes the chunks);
  * expected chunk length is `modulus` tokens (geometric), tunable per
  * use. Two hash modes behind the SAME boundary discipline (r8
  * verdict item 4), both cross-engine-replicable:
  *  - `"md5"`: windowed md5-integer rule (the original oracle mode,
  *    q141) — O(w) md5-of-joined-window per position, now evaluated
  *    by the native [[org.apache.spark.sql.catalyst.expressions.graft
  *    .CdcBoundaries]] expression instead of the interpreted
  *    transform/slice/concat_ws SQL chain (identical boundaries,
  *    ~one-pass loop — the constant-factor fix for q141's cost per
  *    honest token);
  *  - `"poly"`: Rabin–Karp rolling polynomial over per-token md5 h1
  *    values (the q39 `rollingFingerprint` idiom) — ONE md5 per token
  *    and an O(1) update per position, the production mode; still a
  *    full DuckDB oracle (q230) because the window hash is a w-term
  *    power sum of md5-hex integers mod 2³¹−1.
  * Production CDC adds min/max chunk clamps; elided here to keep the
  * boundary rule a pure local predicate (document-level degenerate
  * cases are bounded by document length). */
object Cdc {

  /** Chunk `textCol` by content-defined boundaries. Output: one row
    * per chunk with 1-based token span, token count, and the chunk
    * text's md5 (the cache key downstream). Documents shorter than
    * one window emit a single chunk. `mode`: "md5" | "poly" (see
    * object doc). */
  def contentDefinedChunks(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 4, modulus: Int = 8,
      mode: String = "md5"): DataFrame = {
    require(window >= 1 && modulus >= 1, "window and modulus must be positive")
    val fn = mode match {
      case "md5"  => "cdc_boundaries_md5"
      case "poly" => "cdc_boundaries_poly"
      case other  => throw new IllegalArgumentException(s"unknown CDC mode: $other")
    }
    docs
      .withColumn("__toks", TextFunctions.tokens(textCol))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") >= 1)
      // boundary positions: i ∈ [window, n] with hash(last-window-toks)
      // ≡ 0 (mod modulus), plus the document end; sort+distinct keeps
      // the list canonical on both engines
      .withColumn("__bpos", array_sort(array_distinct(concat(
        expr(s"$fn(__toks, $window, $modulus)"),
        array(col("__n"))))))
      .withColumn("__bounds", concat(array(lit(0)), col("__bpos")))
      .withColumn("__chunk", expr(
        """transform(sequence(1, size(__bounds) - 1), j -> struct(
          |  element_at(__bounds, j) + 1 AS start_tok,
          |  element_at(__bounds, j + 1) AS end_tok))""".stripMargin))
      .select(col(idCol), posexplode(col("__chunk")).as(Seq("__i", "c")),
        col("__toks"))
      .select(col(idCol),
        (col("__i") + 1).as("chunk_id"),
        col("c.start_tok"), col("c.end_tok"),
        (col("c.end_tok") - col("c.start_tok") + 1).as("n_tokens"),
        md5(concat_ws(" ",
          slice(col("__toks"), col("c.start_tok"),
            col("c.end_tok") - col("c.start_tok") + 1))).as("chunk_md5"))
  }
}
