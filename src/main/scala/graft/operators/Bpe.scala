package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** Byte-pair-encoding vocabulary induction (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units",
  * ACL 2016) — THE canonical tokenizer-training operator of an LLM
  * data pipeline, Spark-first:
  *
  *   1. ONE distributed pass builds the word→frequency histogram
  *      (the only corpus-scale step; at 100 TB this is a classic
  *      map-side-combinable groupBy whose output — the distinct-word
  *      histogram — is orders of magnitude smaller than the corpus).
  *   2. The merge loop then runs ENTIRELY on the compact histogram:
  *      each iteration is one map-side-combinable pair-count aggregate
  *      over ≤ topWords rows, a 1-row argmax collect (the model
  *      artifact, not data), and a row-local [[BpeMerge]] rewrite of
  *      the symbol sequences. This is exactly how industrial BPE
  *      trainers decompose the problem (word histogram + merge loop);
  *      the corpus is never re-read after step 1.
  *
  * Determinism (what makes a FULL cross-engine oracle possible, unlike
  * the float-iterative k-means family): all state is integer counts
  * and strings; the argmax tie-break is total (count DESC, left ASC,
  * right ASC — binary collation on a lowercase-ASCII + '</w>'
  * alphabet); and the greedy merge application is restated exactly by
  * the run-parity window rule (see [[
  * org.apache.spark.sql.catalyst.expressions.graft.BpeMerge]]).
  *
  * Reference scope: the reference app has no tokenizer training at
  * all (its text handling stops at pandas `str` ops,
  * `src/processing.py`); this is a 100 TB-pipeline extension. */
object Bpe {

  /** Distributed word histogram: lowercase, split on non-letters, cap
    * word length (bounds every downstream symbol sequence), keep the
    * `topWords` most frequent with a deterministic (freq DESC, word
    * ASC) tie-break — a TakeOrdered, not a global sort. The histogram
    * cap is the scale guard: the merge loop's cost is O(topWords ·
    * maxLen) per iteration regardless of corpus size. */
  def wordHistogram(docs: DataFrame, textCol: String, topWords: Int,
      maxLen: Int = 12): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .where(col("word") =!= "" && length(col("word")) <= maxLen)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(topWords)

  /** Learn `nMerges` BPE merges from the corpus; returns the merge
    * table (step, lsym, rsym, pair_count) — the trained tokenizer
    * model. Initial alphabet = characters + an explicit '</w>'
    * end-of-word marker (so merges can learn whole-word units and
    * suffixes, per the paper). Stops early if no adjacent pair is
    * left (fully-merged vocabulary). */
  /* Driver-residency contract (r16, ADVICE): the collected histogram
   * puts O(topWords · (maxLen+1)) symbol strings on the DRIVER heap —
   * topWords bounds driver memory the way k in k-means does. Registry
   * callers pass ≤ 1500; a caller passing millions is choosing a
   * driver-resident model too big for the q107 discipline and should
   * reconsider, not raise driver memory. */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
      topWords: Int, maxLen: Int = 12): DataFrame = {
    val spark = docs.sparkSession
    // r15: the merge loop previously ran as nMerges Spark iterations —
    // per merge one pair-count argmax COLLECT plus one eager
    // localCheckpoint of the rewritten symbol frame, i.e. 2·nMerges
    // scheduler round-trips against a ≤ topWords-row frame (32 actions
    // for the registry's 16-merge calls; measured as the bulk of
    // q237/q241/q287). The loop's entire state is the word histogram —
    // ≤ topWords words of ≤ maxLen+1 ASCII symbols, the same
    // parameter-bounded MODEL state the engine already treats as
    // driver-resident for k-means centroids and the GD classifier
    // (q107 discipline) — so train on the driver: ONE distributed
    // histogram pass (unchanged — the only corpus-scale step), one
    // collect, then pure-Scala iterations.
    //
    // Value identity with the Spark loop (and the unrolled DuckDB
    // oracle) is exact: words are lowercase a-z (wordHistogram splits
    // on [^a-z]+), so per-char splitting and String ordering coincide
    // with Spark's code-point substring and binary collation; pair
    // counts are integer sums; the argmax tie-break (count DESC, l ASC,
    // r ASC) is total; the greedy rewrite below replicates
    // [[graft.plans.BpeMerge]]'s left-to-right consume-both rule
    // verbatim. BpeSpec pins learn+encode outputs.
    val hist = wordHistogram(docs, textCol, topWords, maxLen).collect()
    var toks: Array[Array[String]] =
      hist.map(r => r.getString(0).map(_.toString).toArray :+ "</w>")
    val freqs: Array[Long] = hist.map(_.getLong(1))
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < toks.length) {
        val ts = toks(wi); var j = 0
        while (j < ts.length - 1) {
          val key = (ts(j), ts(j + 1))
          cnt.update(key, cnt.getOrElse(key, 0L) + freqs(wi))
          j += 1
        }
        wi += 1
      }
      if (cnt.isEmpty) exhausted = true
      else {
        val ((l, r), c) = cnt.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((step, l, r, c))
        toks = toks.map { ts =>
          // BpeMerge's greedy non-overlap rule: left-to-right, a match
          // consumes both symbols
          val out = ArrayBuffer.empty[String]
          var i = 0
          while (i < ts.length) {
            if (i + 1 < ts.length && ts(i) == l && ts(i + 1) == r) {
              out += (l + r); i += 2
            } else { out += ts(i); i += 1 }
          }
          out.toArray
        }
        step += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("step", "lsym", "rsym", "pair_count")
  }

  /** Encode words with a learned merge table: fold the merges in
    * training order over the symbol sequences (the standard BPE
    * encoder). Returns the word histogram with its final subword
    * sequence and subword count — the vocabulary-compression view
    * (how many tokens each word costs under the trained tokenizer). */
  def encode(docs: DataFrame, textCol: String, merges: Seq[(String, String)],
      topWords: Int, maxLen: Int = 12): DataFrame = {
    var words = wordHistogram(docs, textCol, topWords, maxLen)
      .withColumn("toks", expr(
        "concat(transform(sequence(1, length(word)), i -> substring(word, i, 1)), array('</w>'))"))
    // call_function, NOT expr-string interpolation: encode() is a
    // public API taking arbitrary merge symbols, and a quote inside a
    // symbol would break (or inject into) interpolated SQL text —
    // lit() carries the symbol as a value, never as syntax (r9 ADVICE).
    for ((l, r) <- merges)
      words = words.withColumn("toks",
        call_function("bpe_merge", col("toks"), lit(l), lit(r)))
    words.withColumn("n_subwords", size(col("toks")))
  }
}
