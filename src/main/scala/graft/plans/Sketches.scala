// Same package rationale as CosineSimilarity.scala: native expressions
// live under org.apache.spark.sql so they can use catalyst internals
// (XXH64, UTF8String buffers). Their SQL names are in the
// graft.plans.GraftExtensions table.
package org.apache.spark.sql.catalyst.expressions.graft

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared: xxHash64 of a UTF8String, hashed ONCE per element — the
  * interpreted higher-order-function formulation re-hashes each string
  * k times (k=32 for MinHash, 64 for SimHash), which made sketching the
  * bench bottleneck: 14M+ interpreted string hashes at sf0.1. */
private[graft] object SketchHash {
  @inline def hash(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
}

/** md5-derived hash values, bit-identical to what any ANSI engine can
  * compute from the md5 HEX STRING — the cross-engine-auditable hash
  * family behind the `_md5` sketch variants:
  *
  *   h1 = first 15 hex digits  = ('0x' || substr(md5(s), 1, 15))::BIGINT
  *   h2 = hex digits 17..29    = ('0x' || substr(md5(s), 17, 13))::BIGINT
  *
  * (60 and 52 bits — both well under 2⁶³, so the affine combinations
  * below never overflow). xxhash64 is the production default (~5×
  * faster, one unsafe pass, no allocation); md5 is what you pick when
  * an EXTERNAL system must reproduce the sketch byte for byte — e.g.
  * the driver's DuckDB oracle, or a second engine auditing a dedup
  * run. MessageDigest instances are thread-local (they are stateful
  * and not thread-safe; executor task threads are long-lived). */
private[graft] object Md5Hash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** (h1, h2) as defined above: h1 = digest bytes 0..7 big-endian
    * shifted to 60 bits; h2 = bytes 8..14 big-endian shifted to 52. */
  @inline def pair(s: UTF8String): (Long, Long) = {
    val d = md.get(); d.reset()
    val dig = d.digest(s.getBytes)
    var v1 = 0L; var i = 0
    while (i < 8) { v1 = (v1 << 8) | (dig(i) & 0xffL); i += 1 }
    var v2 = 0L; i = 8
    while (i < 15) { v2 = (v2 << 8) | (dig(i) & 0xffL); i += 1 }
    (v1 >>> 4, v2 >>> 4)
  }
  @inline def h1(s: UTF8String): Long = pair(s)._1

  /** Raw 16-byte md5 digest — for rules that read hex PREFIXES
    * shorter than h1's 15 digits (e.g. the CDC boundary rule's first
    * 6 hex digits = bytes 0..2). */
  @inline def digest(s: UTF8String): Array[Byte] = {
    val d = md.get(); d.reset()
    d.digest(s.getBytes)
  }

  /** The first 16 md5 hex digits as one 64-bit word (bytes 0..7
    * big-endian). An int64 engine reads it as TWO 32-bit halves —
    * hi = ('0x'||substr(md5,1,8))::BIGINT, lo = ('0x'||substr(md5,9,8))
    * — because the unsigned 64-bit value itself would overflow; bit j
    * of this word is bit j of lo for j < 32, bit j−32 of hi above. */
  @inline def word64(s: UTF8String): Long = {
    val d = md.get(); d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L; var i = 0
    while (i < 8) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    v
  }
}

/** MinHash signature of an array<string> shingle set: the j-th hash
  * family member is `xxhash64(base, seed = j)` of the shingle's base
  * hash, minimized over the set. Each shingle's STRING is hashed once;
  * the k·n inner loop is primitive long-to-long xxhash.
  *
  * Why a real re-hash per j and not an affine family: the earlier
  * `(h·(2j+1) + j) mod 2^61-1` family never wrapped the modulus
  * (h·63 < 2^38 ≪ 2^61), so every member was MONOTONE in h — all k
  * argmins picked the same shingle and the signature degenerated to a
  * single-hash MinHash: any two docs agreed on all k positions or
  * none, banding choice was a no-op, and pair recall followed p = J
  * instead of the designed 1−(1−J^r)^b S-curve (found by the r4
  * banding-sweep operator, whose per-config candidate counts came out
  * identical). xxhash64-of-long members are genuinely independent.
  * CodegenFallback: the eval itself is a tight JVM loop, and sketching
  * is bound by hashing, not expression dispatch. */
case class MinHashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val base = SketchHash.hash(arr.getUTF8String(i), 42L)
      var j = 0
      while (j < k) {
        val h = XXH64.hashLong(base, j.toLong)
        if (h < mins(j)) mins(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature from the md5 DOUBLE-HASH family — the
  * cross-engine-replicable sibling of [[MinHashSig]]: member j is
  *
  *   hⱼ(x) = h1(x) + j·h2(x)      (Kirsch & Mitzenmacher, ESA 2006:
  *                                 two hashes simulate k independent
  *                                 ones with no loss for sketches)
  *
  * with (h1, h2) from [[Md5Hash]], minimized over the shingle set.
  * Every value is plain integer arithmetic over the md5 hex string,
  * so a second engine (the DuckDB oracle, an external auditor) can
  * recompute signatures — and therefore LSH candidates and the whole
  * dedup output — EXACTLY, which the xxhash64 family cannot offer
  * (xxhash64 exists only inside Spark). One md5 per shingle, k
  * additions; j·h2 ≤ 63·2⁵² < 2⁵⁸ keeps the sum under 2⁶¹ —
  * overflow-free in any int64 engine. Trade: md5 costs ~5× xxhash64
  * per shingle — production corpora that never need external
  * verification should keep [[MinHashSig]]. */
case class MinHashSigMd5(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1 && k <= 64, "k must be in [1, 64]")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val (a, b) = Md5Hash.pair(arr.getUTF8String(i))
      var h = a
      var j = 0
      while (j < k) {
        if (h < mins(j)) mins(j) = h
        h += b
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** h1 per element of an array<string> — exactly
  * `transform(a, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))`
  * (the md5 parity idiom's per-shingle form), but ONE digest and a few
  * integer shifts per element instead of digest → 32-char hex encode →
  * substring → base-16 string parse, and no per-element interpreted
  * lambda dispatch. [[Md5Hash.pair]]'s v1 is the first 8 digest bytes
  * big-endian >>> 4 — i.e. the integer value of the first 15 hex
  * digits — so the values are bit-identical to the SQL form (pinned by
  * SketchesSpec's equivalence test) and every oracle that restates the
  * idiom in SQL still matches. r15 measurement: the SQL transform cost
  * 2× the whole 32-member MinHash sketch on the same shingle set.
  *
  * Input contract (r16, ADVICE): elements must be NON-NULL — the
  * declared `containsNull = false` output makes a null element NPE
  * here where the SQL transform would emit a null element. Every
  * producer satisfies this by construction (shingle/token arrays come
  * from split/filter chains that cannot emit null elements). */
case class Md5H1Seq(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_h1_seq"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = Md5Hash.pair(arr.getUTF8String(i))._1
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** xxhash64 (seed 42, Spark's SQL default) per element of an
  * array<string> — exactly `transform(a, x -> xxhash64(x))` but without
  * the per-element interpreted lambda dispatch ArrayTransform pays
  * (higher-order-function lambdas do not participate in codegen).
  * Value-identity with the SQL form is pinned by SketchesSpec.
  * Same non-null element contract as [[Md5H1Seq]]. */
case class XxHash64Seq(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "xxhash64_seq"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = SketchHash.hash(arr.getUTF8String(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Jaro–Winkler similarity of two strings (Winkler 1990) — the
  * record-linkage measure Spark lacks as a builtin (it ships only
  * `levenshtein`/`soundex`). Standard definition, chosen to match the
  * ANSI-engine implementations bit for bit so linkage output is
  * cross-engine auditable (verified against DuckDB's
  * `jaro_winkler_similarity` on a probe set including the boost-gate
  * edge):
  *
  *   jaro = (m/|s1| + m/|s2| + (m−t)/m) / 3, match window
  *   ⌊max/2⌋−1, t = transposed matched pairs / 2; the Winkler prefix
  *   boost jw = jaro + ℓ·0.1·(1−jaro) (ℓ = common prefix ≤ 4) applies
  *   ONLY when jaro > 0.7 (the reference implementations' gate).
  *
  * Row-local O(|s1|·window) char loop over UTF-16 code units — exact
  * for ASCII and the BMP; identical strings → 1, zero matches → 0.
  * Determinism: the only floating arithmetic is a handful of exact
  * small-integer divisions composed identically in both engines. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.sim(a.asInstanceOf[UTF8String].toString,
      b.asInstanceOf[UTF8String].toString)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object JaroWinkler {
  def sim(s1: String, s2: String): Double = {
    if (s1 == s2) return 1.0
    val l1 = s1.length; val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2, i + window + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - half).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var p = 0
    val maxP = math.min(4, math.min(l1, l2))
    while (p < maxP && s1.charAt(p) == s2.charAt(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }
}

/** Distinct n-token shingles of an array<string> token column, joined
  * with single spaces — first-occurrence order, empty array when the doc
  * has fewer than n tokens. Value-identical to
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ', ...)))`
  * but a tight loop instead of ~40µs/element of interpreted
  * higher-order-function dispatch (measured: shingling 5000 docs took
  * 17s interpreted, <1s native). */
case class Shingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) new GenericArrayData(Array.empty[Any])
    else {
      val seen = new java.util.LinkedHashSet[UTF8String]()
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        seen.add(UTF8String.concatWs(space, parts: _*))
        i += 1
      }
      new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Per-row bigram COUNTS: (w1, "w1 w2", n) structs, one per distinct
  * bigram of the token array, duplicates counted — the row-local form
  * of `explode(bigrams) → groupBy(doc, w1, bg) → count`. A document's
  * bigrams all live in its own row, so counting them through a
  * corpus-scale shuffle (what the relational formulation does — Spark
  * cannot know the group key is row-local) moves every bigram
  * occurrence across the cluster just to bring it back to where it
  * started. This expression does the count in a tight per-row loop;
  * the bigram-LM chain then pays ONE corpus shuffle (co-partitioning
  * by bigram for the count tables AND the scoring join) instead of
  * three. Insertion-ordered output (first occurrence), deterministic;
  * order is irrelevant downstream of the aggregates. */
case class BigramCounts(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("bg", StringType, nullable = false),
    StructField("nb", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "bigram_counts"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Any]]()
    var i = 0
    while (i < m - 1) {
      // concatWs allocates fresh bytes; w1 is cloned because the source
      // array may be unsafe-backed (a stored view could be overwritten
      // after eval returns). Positions where either token is null are
      // skipped: bigram_counts is a registered SQL function any query
      // author can call, and a null element would otherwise NPE on
      // clone() (or let concatWs silently emit a malformed bigram that
      // violates the declared non-null struct schema).
      val w1 = toks.getUTF8String(i)
      val w2 = toks.getUTF8String(i + 1)
      if (w1 != null && w2 != null) {
        val bg = UTF8String.concatWs(space, w1, w2)
        val e = counts.get(bg)
        if (e == null) counts.put(bg, Array[Any](w1.clone(), bg, 1L))
        else e(2) = e(2).asInstanceOf[Long] + 1L
      }
      i += 1
    }
    val out = new Array[Any](counts.size())
    val it = counts.values().iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** POSITIONAL n-token shingles: one entry per token position, duplicates
  * preserved — the input winnowing requires. [[Shingles]] dedups to
  * first occurrence (right for set-similarity sketches), but winnowing's
  * w+k-1 shared-substring guarantee needs window positions to BE text
  * positions: with a deduped sequence a repeated k-gram is absent from
  * its later positions, which can break a consecutive shared run. */
case class ShingleSeq(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_seq"

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements()
    if (m < n) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i <= m - n) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(space, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of an array<string> token stream: per-bit vote of the
  * token hash, sign → bit. One hash per token, 64 bit-tests per token. */
case class SimHash64(child: Expression, md5Hash: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String =
    if (md5Hash) "simhash64_md5" else "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      // md5 variant: votes come from Md5Hash.word64's bits, which any
      // engine reads from the md5 hex string in two 32-bit halves —
      // the cross-engine-auditable family (see Md5Hash)
      val h =
        if (md5Hash) Md5Hash.word64(arr.getUTF8String(i))
        else SketchHash.hash(arr.getUTF8String(i), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH band hashes of an array<long> MinHash signature: split into
  * `bands` equal bands, hash each band's values with a chained
  * xxHash64 (seeded by the band index, so equal value-runs in
  * different bands do not collide). */
case class MinHashBands(child: Expression, bands: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any = {
    val sig = input.asInstanceOf[ArrayData]
    val k = sig.numElements()
    val rows = k / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var j = 0
      while (j < rows) {
        h = XXH64.hashLong(sig.getLong(b * rows + j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Top-`nProbe` nearest IVF coarse centroids of an `array<float>`
  * embedding, by cosine (same double accumulation as
  * [[CosineSimilarity]]); ties broken toward the larger centroid id so
  * results match the struct-max formulation it replaced. The centroid
  * table is held in the expression OBJECT (constructor data shipped
  * with the serialized plan), NOT inlined in the plan/SQL text: the
  * literal-array formulation exploded the plan string and codegen at
  * production cell counts (thousands of centroids × dims). `stringArgs`
  * keeps `explain` output to the centroid COUNT. */
case class NearestCells(child: Expression, centroidIds: Array[Long],
    centroidVecs: Array[Array[Float]], nProbe: Int,
    round6: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ivf_cells"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"nCentroids=${centroidIds.length}", s"nProbe=$nProbe",
      s"round6=$round6")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nC = centroidIds.length
    val sims = new Array[Double](nC)
    var c = 0
    while (c < nC) {
      val v = centroidVecs(c)
      val n = math.min(arr.numElements(), v.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = arr.getFloat(i).toDouble
        val y = v(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val s = if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
      // round6: argmax over the 6-dp-rounded cosine (Spark round
      // semantics — BigDecimal HALF_UP). Two near-identical centroids
      // (converged k-means attractors) give cosines a sub-ulp apart:
      // on raw values the winner rides cross-engine accumulation
      // noise; rounded, they TIE and the larger-id rule resolves the
      // same everywhere. Opt-in — IVF/q100 oracles restate raw order.
      sims(c) = if (round6 && !s.isNaN && !s.isInfinite)
        java.math.BigDecimal.valueOf(s)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      else s
      c += 1
    }
    val order = Array.range(0, nC).sortBy(i => (-sims(i), -centroidIds(i)))
    new GenericArrayData(order.take(math.min(nProbe, nC)).map(i => centroidIds(i)))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** LSH sign-bucket of an array<float> embedding against `nBits`
  * deterministic pseudo-random hyperplanes (component = hash(table,
  * plane, dim) mapped to [-0.5, 0.5)). Replaces an interpreted
  * nBits×dim double-aggregate per row. */
case class LshBucket(child: Expression, nBits: Int, table: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "lsh_bucket"

  // The hyperplane components depend only on (table, plane, dim-index) —
  // row-invariant, so they are materialized once per expression instance
  // instead of re-hashing nBits×dim longs for every row.
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nBits, 4096) { (b, i) =>
      val hv = XXH64.hashLong((b + table * nBits).toLong * 4096L + i, 42L)
      (((hv % 1000L) + 1000L) % 1000L).toDouble / 1000.0 - 0.5
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = math.min(arr.numElements(), 4096)
    var bucket = 0
    var b = 0
    while (b < nBits) {
      val plane = planes(b)
      var dot = 0.0
      var i = 0
      while (i < dim) {
        dot += arr.getFloat(i) * plane(i)
        i += 1
      }
      if (dot > 0) bucket |= (1 << b)
      b += 1
    }
    java.lang.Integer.valueOf(bucket)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Signed random projection (Charikar, STOC 2002: SimHash for cosine)
  * of an `array<float>` embedding onto `m` deterministic ±1
  * hyperplanes: out[j] = Σ_i emb[i] · sign(i, j). Unlike
  * [[LshBucket]]'s xxhash64 hyperplanes, the sign family here is the
  * engine's cross-engine md5 idiom (same formula as
  * `Curation.hashBucket`: parity of the first 6 md5 hex chars of
  * "srp:i:j"), so an external SQL engine can replicate the projection
  * bit-for-bit — this is what makes the SRP queries full
  * hash-oracle-checkable where every other ANN query is rows-only.
  *
  * ±1 components need no scaling for sign-based codes, and the JL
  * guarantee holds for Rademacher entries (Achlioptas, JCSS 2003) —
  * E[⟨z_a, z_b⟩]/m recovers ⟨a, b⟩. Row-local primitive m×d loop,
  * matrix materialized once per expression instance (row-invariant).
  * Input dims are capped at MaxDim=512 (the precomputed sign matrix's
  * width): wider embeddings FAIL rather than silently projecting from
  * a prefix. */
case class SrpProject(child: Expression, m: Int)
    extends UnaryExpression with CodegenFallback {

  require(m > 0, s"srp_project m must be positive, got $m")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "srp_project"
  override def stringArgs: Iterator[Any] = Iterator(child, s"m=$m")

  @transient private lazy val signs: Array[Array[Double]] = SrpSigns.matrix(m)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val out = new Array[Double](m)
    var j = 0
    while (j < m) {
      out(j) = SrpSigns.dot(arr, d, signs(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The shared md5-parity ±1 hyperplane family behind [[SrpProject]] and
  * [[SrpBandKeys]] — one matrix instance per width, process-wide, so a
  * query that both projects and bands pays the derivation once. */
private[graft] object SrpSigns {
  val MaxDim = 512
  private val cache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  def matrix(m: Int): Array[Array[Double]] = cache.computeIfAbsent(m, { m =>
    val mdg = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(m, MaxDim) { (j, i) =>
      val hex = mdg.digest(s"srp:${i + 1}:${j + 1}"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(3).map(b => f"${b & 0xff}%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
    }
  })

  /** One projection component — ascending-index fold, the order the
    * DuckDB oracles replicate. Refuses inputs wider than the sign
    * matrix: projecting a PREFIX would silently change the sketch. */
  @inline def dot(arr: ArrayData, d: Int, row: Array[Double]): Double = {
    require(d <= MaxDim,
      s"srp projection supports embeddings up to $MaxDim dims, got $d")
    var acc = 0.0
    var i = 0
    while (i < d) {
      acc += arr.getFloat(i).toDouble * row(i)
      i += 1
    }
    acc
  }

  /** The sign convention every SRP consumer shares: the bit is taken on
    * the 6-dp-HALF_UP-ROUNDED projection (exactly Spark's `round(z, 6)
    * >= 0`, which DuckDB replicates), so a borderline-zero component
    * cannot flip a bit on one engine only. */
  @inline def bit(z: Double): Int = {
    val r = if (z.isNaN || z.isInfinite) z
      else java.math.BigDecimal.valueOf(z)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    if (r >= 0) 1 else 0
  }
}

/** SRP band keys in ONE native pass: project the embedding onto the
  * first `m` md5-parity hyperplanes ([[SrpSigns]]), take the 6-dp
  * rounded sign bit of each component, and pack consecutive runs of
  * `bandBits` bits into one integer key per band — `m / bandBits` keys
  * out. `msbFirst = true` is the banding fold `acc * 2 + bit`
  * (q283/q280's LSH bands); `false` is the bucket packing
  * `bit << position-in-band` (the md5Mode LSH tables in
  * Dedup/Similarity). Bit-identical to the interpreted formulation it
  * replaces — `transform(sequence(...), b -> aggregate(slice(...)))`
  * over the [[SrpProject]] output — which ran nested Catalyst HOF
  * lambdas per row (~1 µs/element interpreted, the q260 lesson); this
  * is one primitive m×d loop with no intermediate array allocation. */
case class SrpBandKeys(child: Expression, m: Int, bandBits: Int,
    msbFirst: Boolean = true)
    extends UnaryExpression with CodegenFallback {

  require(m > 0, s"srp_band_keys m must be positive, got $m")
  require(bandBits > 0 && bandBits <= 31 && m % bandBits == 0,
    s"srp_band_keys needs 0 < bandBits <= 31 dividing m, got m=$m bandBits=$bandBits")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String =
    if (msbFirst) "srp_band_keys" else "srp_band_keys_lsb"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"m=$m", s"bandBits=$bandBits", s"msbFirst=$msbFirst")

  @transient private lazy val signs: Array[Array[Double]] = SrpSigns.matrix(m)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = arr.numElements()
    val nBands = m / bandBits
    val out = new Array[Int](nBands)
    var band = 0
    while (band < nBands) {
      var key = 0
      var b = 0
      while (b < bandBits) {
        val bit = SrpSigns.bit(SrpSigns.dot(arr, d, signs(band * bandBits + b)))
        key = if (msbFirst) key * 2 + bit else key | (bit << b)
        b += 1
      }
      out(band) = key
      band += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003) of an
  * array<string> shingle column: hash each k-gram once, slide a window
  * of `w` hashes, keep each window's minimum (rightmost on ties — the
  * paper's robust-winnowing rule), emit the distinct selected hashes in
  * first-selection order.
  *
  * The guarantee that makes this the standard fingerprint for overlap
  * detection: any shared substring of at least w+k-1 tokens between two
  * documents produces at least one SHARED fingerprint, while the
  * fingerprint density is ~2/(w+1) of the k-grams — position-robust
  * partial-overlap detection (what a single whole-document rolling hash
  * cannot give) at a fraction of the index size. Row-local primitive
  * loop: one hash per shingle, O(n·w) long comparisons.
  *
  * The guarantee requires the POSITIONAL shingle sequence
  * ([[ShingleSeq]]) as input — one entry per token position, duplicates
  * preserved. Feeding the deduped [[Shingles]] set breaks window/text
  * position alignment for documents with repeated k-grams. */
case class WinnowFingerprints(child: Expression, w: Int,
    md5Hash: Boolean = false)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (md5Hash) "winnow_fingerprints_md5" else "winnow_fingerprints"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) new GenericArrayData(Array.empty[Any])
    else {
      val hs = new Array[Long](n)
      var i = 0
      while (i < n) {
        // md5 variant: k-gram hash = Md5Hash.h1, replicable by any
        // engine from the md5 hex string (window minima over equal
        // VALUES are tie-break-insensitive, so the emitted set is
        // engine-independent arithmetic end to end)
        hs(i) =
          if (md5Hash) Md5Hash.h1(arr.getUTF8String(i))
          else SketchHash.hash(arr.getUTF8String(i), 42L)
        i += 1
      }
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      if (n <= w) {
        // shorter than one window: keep the single global minimum
        var min = hs(0); i = 1
        while (i < n) { if (hs(i) <= min) min = hs(i); i += 1 }
        seen.add(min)
      } else {
        var start = 0
        while (start <= n - w) {
          var min = hs(start)
          var j = start + 1
          while (j < start + w) {
            if (hs(j) <= min) min = hs(j) // rightmost min on ties
            j += 1
          }
          seen.add(min)
          start += 1
        }
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var o = 0
      while (it.hasNext) { out(o) = it.next().longValue(); o += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Content-defined-chunking boundary positions (LBFS, Muthitacharoen
  * et al. SOSP 2001, on token streams): 1-based positions i ∈
  * [w, n] where the hash of tokens (i−w+1 .. i) ≡ 0 (mod modulus) —
  * the local boundary rule behind [[graft.operators.Cdc]]. Two hash
  * modes, same boundary discipline:
  *
  *  - md5 (`poly = false`, the ORACLE mode): hash = first 6 md5 hex
  *    digits of the space-joined window, as an integer — exactly
  *    `('0x' || substr(md5(concat_ws(' ', slice)), 1, 6))::BIGINT`,
  *    so DuckDB restates every boundary. O(w) join+md5 per position;
  *    this native form replaces the interpreted
  *    transform(sequence, slice, concat_ws, md5) SQL chain that made
  *    q141 the most expensive row-local query per token (r8 verdict
  *    item 4) — identical boundaries, one tight loop, no per-position
  *    Catalyst array allocation.
  *  - poly (`poly = true`, the PRODUCTION mode): Rabin–Karp rolling
  *    polynomial over per-token md5 h1 values, base 1000003 mod
  *    2³¹−1 (the [[graft.functions.TextFunctions.rollingFingerprint]]
  *    family) — ONE md5 per token total and an O(1) update per
  *    position instead of an O(w) re-hash: H_i = (H_{i−1} −
  *    h_out·B^{w−1})·B + h_in (mod P). Still cross-engine-replicable
  *    (the per-token hash is md5-hex arithmetic and the window hash a
  *    w-term power sum mod P), so the production mode ALSO carries a
  *    full DuckDB oracle (q230).
  *
  * All intermediate products stay under 2⁶³: h mod P < 2³¹, so
  * h·B^{w−1} mod-reduced termwise < 2⁶². Documents shorter than one
  * window emit no boundary (single chunk downstream). */
case class CdcBoundaries(child: Expression, w: Int, modulus: Int,
    poly: Boolean) extends UnaryExpression with CodegenFallback {
  require(w >= 1 && modulus >= 1, "window and modulus must be positive")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String =
    if (poly) "cdc_boundaries_poly" else "cdc_boundaries_md5"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    if (poly) {
      val P = 2147483647L; val B = 1000003L
      var bw = 1L; var j = 1
      while (j < w) { bw = bw * B % P; j += 1 }
      val hp = new Array[Long](n)
      var i = 0
      while (i < n) { hp(i) = Md5Hash.h1(arr.getUTF8String(i)) % P; i += 1 }
      var h = 0L
      i = 0
      while (i < w) { h = (h * B + hp(i)) % P; i += 1 }
      if (h % modulus == 0L) out += w
      i = w
      while (i < n) {
        h = ((h + P - hp(i - w) * bw % P) % P * B + hp(i)) % P
        if (h % modulus == 0L) out += (i + 1)
        i += 1
      }
    } else {
      val sep = UTF8String.fromString(" ")
      val win = new Array[UTF8String](w)
      var i = w - 1 // 0-based index of the window's LAST token
      while (i < n) {
        var j = 0
        while (j < w) { win(j) = arr.getUTF8String(i - w + 1 + j); j += 1 }
        val dig = Md5Hash.digest(UTF8String.concatWs(sep, win: _*))
        val v = ((dig(0) & 0xffL) << 16) | ((dig(1) & 0xffL) << 8) | (dig(2) & 0xffL)
        if (v % modulus == 0L) out += (i + 1)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Product-quantization encoder (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): the embedding splits into
  * `m` contiguous subvectors of `dSub` dims; each maps to the index of
  * its nearest (squared-L2) centroid in that subspace's codebook.
  * Output: array<int> of m codes — the 100 TB memory lever: m bytes
  * per vector instead of 4·d (a 32× shrink at d=64, m=8), so the whole
  * corpus's codes fit in memory while the float vectors stay on disk.
  * Codebooks ride in the expression object like [[NearestCells]]'
  * centroids; row-local primitive loops, no shuffle. Ties break on the
  * LOWEST code index (strict `<`), deterministic on any partitioning. */
case class PqCodes(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback {

  private val m = codebooks.length
  private val dSub = if (m == 0) 0 else codebooks(0)(0).length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"m=$m", s"ks=${if (m == 0) 0 else codebooks(0).length}")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      val off = s * dSub
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.length) {
        val cen = book(c)
        var d = 0.0
        var j = 0
        while (j < dSub) {
          val x = (if (off + j < arr.numElements()) arr.getFloat(off + j) else 0f).toDouble
          val diff = x - cen(j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Query-side ADC table: for a query vector, the dot product of each
  * subvector against every centroid of that subspace's codebook,
  * flattened to array<double> of m·ks entries (entry s·ks + c). Built
  * ONCE per query row — the precompute that makes each corpus pair a
  * table lookup instead of a d-dim dot product. */
case class PqTable(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression with CodegenFallback {

  private val m = codebooks.length
  private val ks = if (m == 0) 0 else codebooks(0).length
  private val dSub = if (m == 0) 0 else codebooks(0)(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_table"
  override def stringArgs: Iterator[Any] = Iterator(child, s"m=$m", s"ks=$ks")

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Any](m * ks)
    var s = 0
    while (s < m) {
      val book = codebooks(s)
      val off = s * dSub
      var c = 0
      while (c < ks) {
        val cen = book(c)
        var dot = 0.0
        var j = 0
        while (j < dSub) {
          val x = (if (off + j < arr.numElements()) arr.getFloat(off + j) else 0f).toDouble
          dot += x * cen(j)
          j += 1
        }
        out(s * ks + c) = dot
        c += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC score of one (corpus codes, query table) pair: Σ_s table[s·ks +
  * codes[s]] — m array lookups and adds, no per-pair d-dim arithmetic.
  * This is the asymmetric distance computation of PQ search: the query
  * stays full-precision (its table), only the corpus is quantized. */
case class PqAdcLookup(left: Expression, right: Expression, ks: Int)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(codesAny: Any, tableAny: Any): Any = {
    val codes = codesAny.asInstanceOf[ArrayData]
    val table = tableAny.asInstanceOf[ArrayData]
    var sum = 0.0
    var s = 0
    val m = codes.numElements()
    while (s < m) {
      sum += table.getDouble(s * ks + codes.getInt(s))
      s += 1
    }
    sum
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** A Column over a native expression whose parameters are driver-side
  * tables (IVF centroids, PQ codebooks, model weights), not SQL
  * literals, so it has no entry in the graft.plans.GraftExtensions
  * table. The expression is built over `inputs` and travels with the
  * DataFrame, so each call's table stays bound to its own result. */
object NativeColumn {
  def apply(inputs: org.apache.spark.sql.Column*)(
      build: Seq[Expression] => Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      build(inputs.map(org.apache.spark.sql.classic.ExpressionUtils.expression)))
}
