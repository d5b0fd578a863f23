package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line on stdout; per-query timings
  * stream to stderr as they complete. Queries run in name order. */
object Bench {

  /** One `queries_part` stdout line: part `part` (1-based) of the
    * per-query map. */
  def queriesPartLine(part: Int, times: Seq[(String, Double)]): String =
    s"""{"metric":"queries_part","part":$part,"queries":${jsonTimes(times)}}"""

  /** A `{"name":seconds,...}` JSON object. Names are escaped as JSON
    * strings; a non-finite time, which JSON cannot hold, is `null`. */
  private def jsonTimes(times: Seq[(String, Double)]): String =
    times.map { case (k, v) => jsonString(k) + ":" + (if (java.lang.Double.isFinite(v)) v.toString else "null") }
      .mkString("{", ",", "}")

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped. Verify writes `oracle_sql.json` with it too — a
    * tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's
    * correctness. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Warm-up outside the timed loop: JIT/codegen paths and parquet
    * footers, so the first timed query doesn't absorb session startup.
    * Profile runs the same steps, so its cold times compare with
    * Bench's. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "orders", "customer", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => () }
    }
    spark.range(1000).selectExpr("sum(id)").collect()
    // warm the Structured Streaming path too (microbatch planner, state
    // store provider, streaming codegen) with a tiny stream of the same
    // shape as q22, and pre-stage the events symlink dir — q22's timed
    // run then pays only for its own data, not one-time machinery init
    try {
      val warmDir = Scratch.dir("bench_warm").toString
      spark.range(4).selectExpr("id AS event_id", "id * 1000000000 AS ts",
        "id AS user_id", "concat('t', id % 2) AS event_type",
        "cast(id AS double) AS value", "'' AS props")
        .write.mode("overwrite").parquet(warmDir)
      graft.streaming.StreamingOps.drain(spark,
        graft.streaming.StreamingOps.dailyAggStream(spark, warmDir), "bench_warm_stream").df.count()
      // Warm the stream-stream join machinery too (symmetric hash join
      // codegen + state store provider classes). Safe now: the drain
      // unloads all providers after each run, so the r2 reason not to
      // warm — lingering maintenance threads taxing later queries — is
      // gone.
      val wp = graft.streaming.StreamingOps.eventStream(spark, warmDir)
      val wv = graft.streaming.StreamingOps.eventStream(spark, warmDir)
      graft.streaming.StreamingOps.drain(spark,
        graft.streaming.StreamingOps.purchaseViewJoin(wp, wv),
        "bench_warm_join", outputMode = "append").df.count()
      graft.streaming.StreamingOps.stageDir(s"$sfDir/events.parquet")
      graft.streaming.StreamingOps.stageDir(s"$sfDir/documents.parquet")
    } catch { case e: Throwable => System.err.println(s"[bench] stream warmup skipped: ${e.getMessage}") }
    // JIT-warm the native sketch/vector expression paths on a tiny
    // in-memory corpus: their first use otherwise lands inside the
    // first timed sketch query — measured ~2-3 s of C2 compilation
    // attributed to q31 (round-1 vs warm runs of the same plan: 3.0 s
    // vs 0.5 s). Same rationale as the streaming-machinery warmup.
    try {
      val sess = spark; import sess.implicits._
      val tiny = (0L until 40L).map(i =>
        (i, s"warm w${i % 7}a w${i % 7}b w${i % 7}c w${i % 7}d w${i % 7}e w${i % 7}f w${i % 7}g"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.minhashNearDups(tiny, threshold = 0.5).count()
      graft.operators.Dedup.simhashNearDups(tiny).count()
      graft.operators.Dedup.ngramJaccardPairs(tiny, threshold = 0.8).count()
      tiny.selectExpr(
        "winnow_fingerprints(shingle_seq(split(lower(trim(text)), '\\\\s+'), 3), 4)").count()
      val tinyVec = (0L until 20L)
        .map(i => (i, Array.tabulate(16)(j => (i * 7 + j).toFloat)))
        .toDF("vec_id", "embedding")
      graft.operators.Similarity.lshTopK(spark, tinyVec, tinyVec.limit(2), k = 3).count()
      graft.operators.Similarity.bruteForceTopK(spark, tinyVec, tinyVec.limit(2), k = 3).count()
    } catch { case e: Throwable => System.err.println(s"[bench] sketch warmup skipped: ${e.getMessage}") }
  }

  /** Free the checkpoint/persist blocks a query left behind, OUTSIDE
    * its timed window: many queries localCheckpoint small frames (model
    * tables, dedup survivors), and those blocks otherwise accumulate in
    * the block manager across a 240-query suite until GC pressure taxes
    * whoever runs late (sf1 artifact: q205 23.1 s in-suite vs 9.5 s
    * isolated — suite state, not plan). Safe between queries: every
    * query is self-contained, so nothing re-reads a prior query's RDDs. */
  def releaseCached(spark: SparkSession): Unit =
    try {
      // `Dataset.cache()` entries first: unpersisting their blocks
      // below would leave them registered, and a later identical plan
      // would still match one and recompute through it uncached
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(false))
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local-iteration filter (the Verify.scala convention); the driver
    // never sets it, so official runs always time the full registry
    val registry = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")).map(q => q.name -> q.run)
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark, sfDir)
    // Per-query time = MIN over TWO FULL SUITE PASSES (r8 verdict
    // item 2): the earlier back-to-back min-of-2 put both samples of a
    // query inside the same ~seconds contention window, so a neighbor
    // workload's burst inflated BOTH runs and the artifact carried
    // 3-7× spikes on queries whose plans were clean (r7 q138/q150,
    // r8 q141/q142 — all adjudicated as contention by isolated
    // re-runs). Separating the two samples by the full suite duration
    // (~minutes) makes a sustained burst the only way to inflate a
    // query's reported time, which is the best a shared box allows.
    // Same total cost (2 runs/query), just reordered. The metric line
    // declares "runs": 2 and "protocol": "two-pass", so the
    // methodology is explicit in the artifact. A query that fails in
    // pass 1 is reported as-is and skipped in pass 2.
    System.err.println("[bench] per-query timing = min across two full suite passes")
    def once(name: String, fn: (SparkSession, String) => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = try fn(spark, sfDir).count() catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1L
      }
      val dt = (System.nanoTime() - t0) / 1e9
      releaseCached(spark)
      (dt, n)
    }
    val pass1 = registry.map { case (name, fn) =>
      val (t, n) = once(name, fn)
      System.err.println(f"[bench] pass1 $name%-24s $t%8.2f s  ($n rows)")
      name -> (t, n)
    }.toMap
    val results = registry.map { case (name, fn) =>
      val (t1, n1) = pass1(name)
      val (sec, n) = if (n1 < 0) (t1, n1) else {
        val (t2, n2) = once(name, fn)
        (math.min(t1, t2), n2)
      }
      System.err.println(f"[bench] $name%-24s $sec%8.2f s  ($n rows)")
      name -> sec
    }
    val qs = jsonTimes(results)
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // The driver captures only the LAST 4000 chars of stdout; a 130-entry
    // per-query map is >4 KB and in rounds 1-6 pushed the total off the
    // front of the line, so the official artifact never parsed. Keep the
    // stdout line compact (total + methodology only) and write the full
    // per-query map to stderr plus a sidecar JSON next to the repo.
    val metricLine =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"protocol":"two-pass","n_queries":${results.size},"sf":"$sfDir"}"""
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":2,"protocol":"two-pass","queries":$qs,"sf":"$sfDir"}"""
    System.err.println(s"[bench] per-query map: $fullJson")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_queries.json"),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write: ${e.getMessage}") }
    // Driver contract: the metric JSON must be the LAST stdout line. The
    // shutdown order below is deliberate (r2 post-mortem: StateStore
    // maintenance threads stack-traced during spark.stop() and flooded
    // the captured output tail past the metric line):
    //   1. stop StateStore maintenance + unload providers while SparkEnv
    //      is still alive (so nothing later hits a stopped RpcEnv),
    //   2. stop the session,
    //   3. delete the scratch root (halt skips its exit hook),
    //   4. print the metric line and flush,
    //   5. halt(0) — skips JVM shutdown hooks, so no hook can print
    //      after the metric line.
    try org.apache.spark.sql.graft.StateStoreHooks.stopAll()
    catch { case e: Throwable => System.err.println(s"[bench] state-store stop: ${e.getMessage}") }
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark stop: ${e.getMessage}") }
    Scratch.clear()
    // r16 (verdict item 2, additions only): ALSO stream the per-query
    // map to stdout as short self-contained JSON lines immediately
    // before the metric line — the driver keeps only the last ~4 KB of
    // output, so one 309-entry line always truncated mid-map; ~25-entry
    // parts keep the tail's surviving lines parseable. The contract
    // metric line stays LAST and unchanged.
    results.grouped(25).zipWithIndex.foreach { case (chunk, i) =>
      System.out.println(queriesPartLine(i + 1, chunk))
    }
    System.out.println(metricLine)
    System.out.flush()
    System.err.flush()
    Runtime.getRuntime.halt(0)
  }
}
