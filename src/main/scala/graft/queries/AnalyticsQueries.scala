package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.operators.Analytics
import graft.streaming.StreamingOps

/** Analytics and streaming queries: OLS confidence-interval bands (the
  * one custom analytic, SURVEY §2.9 X3) and the Structured Streaming
  * daily aggregate drained synchronously to memory (§2.10 extension). */
object AnalyticsQueries {

  /** X3 — OLS 95% CI bands of l_extendedprice ~ l_quantity over the
    * distinct-quantity grid. Fully oracle-checked: the engine keeps its
    * exact bisection t-quantile (functions.Stats), while the DuckDB side
    * computes t(0.975, df) via the Cornish–Fisher asymptotic expansion
    * (Abramowitz & Stegun 26.7.5) — pure arithmetic, |error| ≈ z·df⁻⁴
    * (~1e-11 even at df≈600), invisible under round(·,4). Everything
    * else (slope, Sxx, residual s) is regr_* on both sides. */
  def q15OlsCi(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val bands = Analytics.olsCiBands(li, "l_quantity", "l_extendedprice").get
    bands.select(
      col("x"),
      round(col("y_hat"), 4).as("y_hat"),
      round(col("ci_lower"), 4).as("ci_lower"),
      round(col("ci_upper"), 4).as("ci_upper"))
      .orderBy("x")
  }

  /** T-ext — streaming daily windowed aggregate over the events files,
    * drained with a memory sink; results equal the batch daily
    * aggregate, so the DuckDB oracle checks the whole streaming path. */
  def q22Streaming(s: SparkSession, d: String): DataFrame =
    StreamingOps.drain(
      s, StreamingOps.dailyAggStream(s, s"$d/events.parquet"), "graft_stream_daily").df
      .orderBy("day", "event_type")

  /** Streaming daily top-3 events by value per type
    * ([[StreamingOps.dailyTopkStream]]): the native `topk_agg` buffer
    * IS the streaming state (k pairs per window/type, not the rows);
    * hash-checked against the batch window formulation, so the oracle
    * proves the whole streaming top-k path ≡ batch. */
  def q181StreamTopk(s: SparkSession, d: String): DataFrame =
    StreamingOps.drain(
      s, StreamingOps.dailyTopkStream(s, s"$d/events.parquet"), "graft_stream_topk").df
      .select(col("day"), col("event_type"), posexplode(col("top")))
      .select(col("day"), col("event_type"), (col("pos") + 1).cast("int").as("rank"),
        col("col.score").as("value"), col("col.id").as("event_id"))
      .orderBy("day", "event_type", "rank")

  /** Stateful streaming exact-dedup drained to memory: the
    * `flatMapGroupsWithState` path (per-fingerprint state) run over the
    * documents table as a file stream and hash-checked against DuckDB's
    * batch dedup — the whole custom-state machinery must agree with the
    * relational answer. Single staged file → one micro-batch → the
    * survivor is the global min doc_id, exactly the batch semantics. */
  def q71StreamingDedup(s: SparkSession, d: String): DataFrame =
    StreamingOps.drain(
      s,
      StreamingOps.dedupStream(s, StreamingOps.documentStream(s, s"$d/documents.parquet")),
      "graft_stream_dedup", outputMode = "append").df
      .orderBy("fingerprint")

  /** Stream-stream interval join drained to memory and hash-checked
    * against DuckDB's batch inequality join: purchases × views of the
    * same user within ±15 min, both sides watermarked (bounded state).
    * Single staged file → all matches emitted in one micro-batch, so
    * the streaming result IS the batch result. */
  def q72StreamingJoin(s: SparkSession, d: String): DataFrame = {
    val src = s"$d/events.parquet"
    val p = StreamingOps.eventStream(s, src).filter(col("event_type") === "purchase")
    val v = StreamingOps.eventStream(s, src).filter(col("event_type") === "view")
    StreamingOps.drain(
      s, StreamingOps.purchaseViewJoin(p, v, toleranceSec = 900),
      "graft_stream_join", outputMode = "append",
      drainPartitions = StreamingOps.adaptiveDrainWidth(s, src)).df
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts_s"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("v_ts_s"))
      .orderBy("user_id", "purchase_id", "view_id")
  }

  /** Stream-STATIC enrichment — the canonical production streaming
    * shape the stream-stream family (q72/q87/q88) doesn't cover: the
    * event stream joins a bounded static dimension (customer segment)
    * per micro-batch and feeds a complete-mode aggregate. The static
    * side is broadcast-hinted, so every micro-batch pays a
    * BroadcastHashJoin against the resident dim — no state store for
    * the join (only the aggregate holds state), no shuffle of the
    * stream side; exactly how a 1000-executor enrichment runs. Stream
    * nulls on user_id drop at the inner join on both engine and
    * oracle sides. */
  def q242StreamEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = StreamingOps.eventStream(s, s"$d/events.parquet")
    val dim = broadcast(graft.sources.Tables.customer(s, d)
      .select(col("c_custkey"), col("c_mktsegment")))
    val agg = ev.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    StreamingOps.drain(s, agg, "graft_stream_enrich", outputMode = "complete").df
      .orderBy("segment", "event_type")
  }

  /** Streaming partition-upsert sink end-to-end: the daily aggregate
    * stream lands via foreachBatch + dynamic partition overwrite into a
    * fresh directory, and the landed table is read back — so the whole
    * sink path (update-mode aggregate → idempotent per-partition
    * overwrite → partitioned parquet round-trip, partition column
    * type-inferred back to DATE) is what the DuckDB batch oracle
    * hash-checks. Single staged file → one micro-batch → the landed
    * table IS the batch aggregate. */
  def q82UpsertSink(s: SparkSession, d: String): DataFrame = {
    val out = graft.Scratch.dir("q82_upsert").toString
    val landed = StreamingOps.runUpsertToDir(
      s, StreamingOps.dailyAggStream(s, s"$d/events.parquet"), out)
    landed
      .select(col("day"), col("event_type"), col("n_events"), col("total_value"))
      .orderBy("day", "event_type")
  }

  /** Streaming sessionization: the `session_window` aggregate run as a
    * STREAM with event-time watermark — merging session state across
    * events is the hardest stateful-streaming shape (dynamic,
    * gap-merged windows, not fixed buckets), and Spark only supports it
    * in APPEND mode, where a session emits when the watermark passes
    * its end. A far-future sentinel row (negative ids, filtered here)
    * advances the watermark past every real session, the trailing
    * no-data micro-batch emits them, and the batch q29 oracle
    * hash-checks the whole path — watermark mechanics included. */
  def q85StreamingSessions(s: SparkSession, d: String): DataFrame =
    streamingSessions(s, d, stateStore = None, viewName = "graft_stream_sessions")

  /** q85's session drain pinned to the ROCKSDB state-store provider —
    * the r12 "RocksDB option" item promoted from spec-only to a
    * driver-gated registry query: state lives off-heap in the LSM
    * store (bounded by disk, not executor heap — the 100× state path)
    * and the result must be provider-invariant, so the oracle IS q85's
    * batch-session oracle. The driver now hash-checks the RocksDB
    * provider every round alongside the default one. */
  def q300RocksdbSessions(s: SparkSession, d: String): DataFrame =
    streamingSessions(s, d, stateStore = Some("rocksdb"),
      viewName = "graft_stream_sessions_rocksdb")

  /** The q85 session drain under BOUNDED per-trigger admission — the
    * r13 verdict's item 1 promoted to a driver-gated query: the events
    * table is staged as six time-ordered chunk files
    * ([[StreamingOps.stageTimeOrderedWithSentinel]]) and admitted ONE
    * FILE PER TRIGGER, so session state builds and evicts across >= 6
    * micro-batches instead of materializing every session in one burst
    * (the sf30 GC-burst shape the r13 adjudication named). Trigger
    * admission must be invisible in the RESULT — the oracle is q85's
    * batch-session oracle verbatim, so trigger-invariance is
    * hash-checked every round; an in-query require on the drain's
    * data-batch count proves the admission was genuinely multi-batch. */
  def q301BoundedSessions(s: SparkSession, d: String): DataFrame =
    streamingSessions(s, d, stateStore = None,
      viewName = "graft_stream_sessions_bounded", bounded = true)

  /** q301's bounded-admission drain pinned to the ROCKSDB provider —
    * the two 100×-streaming answers COMPOSED (r14 verdict item 2):
    * bounded per-trigger admission bounds batch size, RocksDB bounds
    * state by disk instead of heap, and a real cluster runs with both
    * at once. The composition is also where the r14 artifact pointed:
    * q301's 4× local premium over the burst drain is the HDFS
    * provider's per-batch state-map clone + full-state eviction scan,
    * exactly the cost RocksDB's incremental commits avoid — this query
    * hash-checks the composed path every round (oracle = q85's batch
    * oracle verbatim), and the r15 bench rows price it at sf10/sf30. */
  def q308BoundedRocksdbSessions(s: SparkSession, d: String): DataFrame =
    streamingSessions(s, d, stateStore = Some("rocksdb"),
      viewName = "graft_stream_sessions_bounded_rocksdb", bounded = true)

  /** `bounded`: replay the events as 6 time-ordered chunk files, one
    * per micro-batch (results are chunk-invariant); otherwise admit
    * them in one burst. */
  private def streamingSessions(s: SparkSession, d: String,
      stateStore: Option[String], viewName: String,
      bounded: Boolean = false): DataFrame = {
    val dir =
      if (bounded) StreamingOps.stageTimeOrderedWithSentinel(s, s"$d/events.parquet", chunks = 6)
      else StreamingOps.stageWithSentinel(s, s"$d/events.parquet")
    val stream = StreamingOps.rawEventStream(s, dir, maxFilesPerTrigger = Option.when(bounded)(1))
      .withWatermark("ts", "1 minute")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
    val drain = StreamingOps.drain(s, stream, viewName,
      outputMode = "append",
      drainPartitions = StreamingOps.adaptiveDrainWidth(s, dir),
      stateStore = stateStore)
    if (bounded)
      require(drain.dataBatches >= 2,
        s"bounded admission must build state across micro-batches, drain ran " +
          s"${drain.dataBatches} data batch(es)")
    drain.df
      .filter(col("user_id") >= 0)
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")
  }

  /** LEFT-OUTER stream-stream interval join — the hardest emission path
    * in Structured Streaming: matched pairs emit as they join, but an
    * UNMATCHED left row emits (null-extended) only when the watermark
    * proves no future match can arrive and the join state evicts it.
    * The sentinel row advances the watermark past every real event:
    * matched rows land in the data batch, evicted unmatched rows in the
    * trailing no-data batch the drain runs before it terminates.
    * Hash-checked against DuckDB's batch LEFT JOIN, so both emission
    * paths — and the eviction timing logic — must agree with the
    * relational answer. The nullable view id is coalesced to -1 on both
    * sides (a null bigint degrades to float in the comparator's pandas). */
  def q87StreamingLeftJoin(s: SparkSession, d: String): DataFrame =
    streamingOuterJoin(s, d, "left_outer", stateStore = None,
      viewName = "graft_stream_left_join")

  /** q87's stream-stream LEFT join pinned to the RocksDB provider —
    * the q300 pattern applied to the JOIN state layout (r13 verdict
    * item 2): a stream-stream join keeps FOUR state stores per
    * partition (keyToNumValues / keyWithIndexToValue on each side),
    * the layout whose state outgrows heap first at 100×, and the
    * unmatched-row emission path depends on state EVICTION — so
    * provider invariance here covers both storage and eviction
    * timing. The oracle is q87's batch LEFT JOIN verbatim; the driver
    * hash-checks the RocksDB join drain every round. Measured at
    * sf10: join state 1212 MB on-heap → 285 MB off-heap
    * (`BENCH_sf10_rocksdb_shapes_r14.json`). */
  def q304RocksdbJoin(s: SparkSession, d: String): DataFrame =
    streamingOuterJoin(s, d, "left_outer", stateStore = Some("rocksdb"),
      viewName = "graft_stream_left_join_rocksdb")

  /** FULL-outer stream-stream join — completes the streaming join-mode
    * matrix (inner q72, left q87): BOTH sides' unmatched rows emit
    * null-extended on their own state eviction, so the check exercises
    * eviction on the purchase AND view state stores. */
  def q88StreamingFullJoin(s: SparkSession, d: String): DataFrame =
    streamingOuterJoin(s, d, "full_outer", stateStore = None,
      viewName = "graft_stream_full_join")

  /** Purchases `joinType`-joined to the same user's views within ±15 min,
    * both sides watermarked, drained to completion. The projection
    * coalesces across the two sides, which is the identity for a left
    * join (its purchase side is never null). */
  private[graft] def streamingOuterJoin(s: SparkSession, d: String, joinType: String,
      stateStore: Option[String], viewName: String): DataFrame = {
    // purchase/view-typed sentinels (user_id = -1): the optimizer pushes
    // the event_type filter below the watermark operator, so an
    // off-type sentinel would never advance the watermark — see
    // stageWithSentinel scaladoc
    val dir = StreamingOps.stageWithSentinel(s, s"$d/events.parquet",
      sentinelTypes = Seq("purchase", "view"))
    def src() = StreamingOps.rawEventStream(s, dir)
      .withWatermark("ts", "1 hour")
    val p = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val v = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    val joined = p.join(v,
      col("p_user") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 900 SECONDS") &&
        col("v_ts") <= col("p_ts") + expr("INTERVAL 900 SECONDS"),
      joinType)
    StreamingOps.drain(s, joined, viewName,
      outputMode = "append",
      drainPartitions = StreamingOps.adaptiveDrainWidth(s, dir),
      stateStore = stateStore).df
      .filter(coalesce(col("p_user"), col("v_user")) >= 0) // drop the sentinel pair
      .select(
        coalesce(col("p_user"), col("v_user")).as("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("view_id"), lit(-1L)).as("view_id"),
        date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("p_ts_s"),
        date_format(col("v_ts"), "yyyy-MM-dd HH:mm:ss").as("v_ts_s"))
      .orderBy("user_id", "purchase_id", "view_id")
  }

  /** Streaming ingest-dedup loop (the CCNet/Dolma daily-corpus shape)
    * end-to-end, FULL hash oracle: index the corpus, stream an ingest
    * batch through [[StreamingOps.lshDedupIngestSink]] (intra-batch
    * dedup → index probe → land survivors → append to index), then
    * report every batch doc's landed/dropped disposition.
    *
    * The batch is adversarial and fully determined: 500 RE-DELIVERED
    * real docs (same text, shifted ids — identical shingle sets make
    * the index catch deterministic at J = 1.0, so re-delivery NEVER
    * lands twice), one near-dup of an indexed planted doc (set-equal
    * trick), and an intra-duplicated novel pair of which only the
    * min-id survivor may land. Every disposition is forced, so DuckDB
    * can state the expected landed set exactly — the streaming
    * machinery, the batch dedup, the index probe AND the append path
    * all have to agree with it for the hash to match. */
  def q109StreamingIngestDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def rep(cycle: String, times: Int) = Array.fill(times)(cycle).mkString(" ")
    val cycleA = "zzia zzib zzic zzid zzie zzif"
    val cycleB = "qqja qqjb qqjc qqjd qqje qqjf"
    val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      .unionByName(Seq((-11L, rep(cycleA, 3))).toDF("doc_id", "text"))
    graft.operators.Dedup.writeLshIndex(s, corpus, "graft_lsh_q109", buckets = 8)
    val redelivered = Tables.documents(s, d)
      .filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batch = redelivered.unionByName(Seq(
      (-100L, rep(cycleA, 4)), // near-dups the indexed -11 → dropped
      (-101L, rep(cycleB, 3)), // intra-batch dup, loses to min id -102
      (-102L, rep(cycleB, 4))) // novel survivor → lands, gets indexed
      .toDF("doc_id", "text"))
    val tmp = graft.Scratch.dir("q109").toString
    batch.repartition(1).write.mode("overwrite").parquet(s"$tmp/in")
    val stream = s.readStream
      .schema("doc_id LONG, text STRING").parquet(s"$tmp/in")
    val q = StreamingOps.lshDedupIngestSink(stream, "graft_lsh_q109",
      s"$tmp/landed", checkpoint = Some(s"$tmp/ckpt"))
    try { q.processAllAvailable() } finally q.stop()
    val landed = s.read.parquet(s"$tmp/landed")
      .select(col("doc_id"), lit(true).as("landed"))
    batch.select("doc_id").join(landed, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("landed"), lit(false)).as("landed"))
      .orderBy("doc_id")
  }

  val specs: Seq[QuerySpec] = Seq(
    // the stream-static enrichment ≡ the batch join: complete-mode
    // aggregate over one staged batch is exactly the batch group-by
    QuerySpec("q242_stream_enrich", q242StreamEnrich,
      """SELECT c_mktsegment AS segment, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // batch window formulation of the streaming topk_agg state — the
    // hash match proves streaming ≡ batch for the native aggregate
    QuerySpec("q181_stream_topk", q181StreamTopk,
      """WITH r AS (
        |  SELECT CAST(date_trunc('microseconds', ts) AS DATE) AS day,
        |    event_type, value, event_id,
        |    CAST(row_number() OVER (
        |      PARTITION BY CAST(date_trunc('microseconds', ts) AS DATE), event_type
        |      ORDER BY value DESC, event_id) AS INT) AS rank
        |  FROM events
        |  WHERE value IS NOT NULL AND event_id IS NOT NULL)
        |SELECT day, event_type, rank, value, event_id FROM r
        |WHERE rank <= 3 ORDER BY 1, 2, 3""".stripMargin),
    QuerySpec("q109_streaming_ingest_dedup", q109StreamingIngestDedup,
      """SELECT doc_id + 1000000 AS doc_id, false AS landed
        |FROM documents WHERE doc_id % 10 = 0
        |UNION ALL
        |SELECT * FROM (VALUES
        |  (CAST(-100 AS BIGINT), false),
        |  (CAST(-101 AS BIGINT), false),
        |  (CAST(-102 AS BIGINT), true)) AS t(doc_id, landed)
        |ORDER BY doc_id""".stripMargin),
    QuerySpec("q71_streaming_dedup", q71StreamingDedup,
      """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("q72_streaming_join", q72StreamingJoin,
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS view_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'view')
        |SELECT p.user_id, p.purchase_id, v.view_id,
        |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS p_ts_s,
        |  strftime(date_trunc('second', v.ts), '%Y-%m-%d %H:%M:%S') AS v_ts_s
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND p.ts >= v.ts - INTERVAL 900 SECONDS
        |  AND p.ts <= v.ts + INTERVAL 900 SECONDS
        |ORDER BY p.user_id, purchase_id, view_id""".stripMargin),
    QuerySpec("q15_ols_ci", q15OlsCi,
      """WITH s AS (
        |  SELECT count(*) * 1.0 AS n,
        |    regr_slope(l_extendedprice, l_quantity) AS slope,
        |    regr_intercept(l_extendedprice, l_quantity) AS intercept,
        |    avg(l_quantity) AS xbar,
        |    regr_sxx(l_extendedprice, l_quantity) AS sxx,
        |    regr_syy(l_extendedprice, l_quantity) AS syy,
        |    regr_sxy(l_extendedprice, l_quantity) AS sxy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |d AS (
        |  SELECT n, slope, intercept, xbar, sxx, n - 2 AS df,
        |    sqrt(greatest(syy - slope * sxy, 0) / (n - 2)) AS rse
        |  FROM s),
        |tq AS (
        |  SELECT *,
        |    1.9599639845400545
        |    + (pow(1.9599639845400545, 3) + 1.9599639845400545) / (4 * df)
        |    + (5 * pow(1.9599639845400545, 5) + 16 * pow(1.9599639845400545, 3)
        |       + 3 * 1.9599639845400545) / (96 * df * df)
        |    + (3 * pow(1.9599639845400545, 7) + 19 * pow(1.9599639845400545, 5)
        |       + 17 * pow(1.9599639845400545, 3) - 15 * 1.9599639845400545)
        |      / (384 * df * df * df) AS tcrit
        |  FROM d)
        |SELECT g.x,
        |  round(intercept + slope * g.x, 4) AS y_hat,
        |  round(intercept + slope * g.x
        |    - tcrit * rse * sqrt(1.0 / n + pow(g.x - xbar, 2) / sxx), 4) AS ci_lower,
        |  round(intercept + slope * g.x
        |    + tcrit * rse * sqrt(1.0 / n + pow(g.x - xbar, 2) / sxx), 4) AS ci_upper
        |FROM (SELECT DISTINCT l_quantity AS x FROM lineitem
        |      WHERE l_quantity IS NOT NULL) g CROSS JOIN tq
        |ORDER BY x""".stripMargin),
    QuerySpec("q22_streaming", q22Streaming,
      """SELECT CAST(ts AS DATE) AS day, event_type,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QuerySpec("q82_upsert_sink", q82UpsertSink,
      """SELECT CAST(ts AS DATE) AS day, event_type,
        | count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin),
    QuerySpec("q88_streaming_full_join", q88StreamingFullJoin,
      """WITH p AS (
        |  SELECT user_id, event_id AS purchase_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, event_id AS view_id, date_trunc('microseconds', ts) AS ts
        |  FROM events WHERE event_type = 'view')
        |SELECT coalesce(p.user_id, v.user_id) AS user_id,
        |  coalesce(p.purchase_id, -1) AS purchase_id,
        |  coalesce(v.view_id, -1) AS view_id,
        |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS p_ts_s,
        |  strftime(date_trunc('second', v.ts), '%Y-%m-%d %H:%M:%S') AS v_ts_s
        |FROM p FULL JOIN v ON p.user_id = v.user_id
        |  AND v.ts >= p.ts - INTERVAL 900 SECONDS
        |  AND v.ts <= p.ts + INTERVAL 900 SECONDS
        |ORDER BY 1, 2, 3""".stripMargin),
    QuerySpec("q87_streaming_left_join", q87StreamingLeftJoin, LeftJoinOracleSql),
    // provider-invariance for the JOIN state layout (the q300 pattern):
    // the RocksDB drain must hash to the same batch LEFT JOIN answer
    QuerySpec("q304_rocksdb_join", q304RocksdbJoin, LeftJoinOracleSql),
    // session_window MERGES at an exactly-gap interval and splits only
    // on a STRICTLY greater one (boundary-proven against the operator
    // itself in BehaviorOpsSpec; the original >= here was wrong in
    // principle but unobservable — real µs timestamps never land on an
    // exact 30:00.000000 gap) — same cumsum-lag formulation as q29
    QuerySpec("q85_streaming_sessions", q85StreamingSessions, SessionOracleSql),
    // provider-invariance IS the contract: the RocksDB drain must hash
    // to the same batch-session answer as the default provider's
    QuerySpec("q300_rocksdb_sessions", q300RocksdbSessions, SessionOracleSql),
    // trigger-invariance IS the contract: bounded per-trigger admission
    // (6 time-ordered chunks, one file per micro-batch) must hash to
    // the same batch-session answer as the single-burst drain
    QuerySpec("q301_bounded_sessions", q301BoundedSessions, SessionOracleSql),
    // the composition: bounded admission AND the RocksDB provider at
    // once (the cluster configuration) — still the same batch answer
    QuerySpec("q308_bounded_rocksdb_sessions", q308BoundedRocksdbSessions, SessionOracleSql)
  )

  private lazy val LeftJoinOracleSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS purchase_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT user_id, event_id AS view_id, date_trunc('microseconds', ts) AS ts
      |  FROM events WHERE event_type = 'view')
      |SELECT p.user_id, p.purchase_id,
      |  coalesce(v.view_id, -1) AS view_id,
      |  strftime(date_trunc('second', p.ts), '%Y-%m-%d %H:%M:%S') AS p_ts_s,
      |  strftime(date_trunc('second', v.ts), '%Y-%m-%d %H:%M:%S') AS v_ts_s
      |FROM p LEFT JOIN v ON p.user_id = v.user_id
      |  AND v.ts >= p.ts - INTERVAL 900 SECONDS
      |  AND v.ts <= p.ts + INTERVAL 900 SECONDS
      |ORDER BY 1, 2, 3""".stripMargin

  private lazy val SessionOracleSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, value, date_trunc('microseconds', ts) AS ts,
      |    CASE WHEN date_trunc('microseconds', ts)
      |           - lag(date_trunc('microseconds', ts)) OVER (PARTITION BY user_id ORDER BY date_trunc('microseconds', ts), event_id)
      |           > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      |  FROM events),
      |s AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM g)
      |SELECT user_id,
      |  strftime(date_trunc('second', min(ts)), '%Y-%m-%d %H:%M:%S') AS session_start,
      |  count(*) AS n_events, round(sum(value),2) AS total_value
      |FROM s GROUP BY user_id, session_id ORDER BY 1,2""".stripMargin
}
