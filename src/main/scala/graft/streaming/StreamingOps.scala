package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Scratch

/** Structured Streaming extension (SURVEY §2.10): the reference has no
  * streaming engine — its `realtime` mode is a daily batch — so this
  * module is the engine's incremental path: a file-source stream with
  * event-time watermarking and tumbling daily windows.
  *
  * At scale this is the exact shape of continuous ingest: new parquet
  * files land in a directory, the stream discovers them incrementally,
  * the watermark bounds state for late data, and the windowed aggregate
  * maintains per-(day, key) partial sums without reprocessing history —
  * vs the reference re-running the whole 180-day batch on staleness
  * (dashboards/app.py:117-142).
  *
  * Every streaming query is proven against its batch answer through ONE
  * drain, [[drain]]: the query starts with `Trigger.AvailableNow` and the
  * caller blocks in `awaitTermination`. AvailableNow admits everything
  * the source holds at start (honouring `maxFilesPerTrigger`, so a
  * bounded source still runs batch by batch), then runs the trailing
  * no-data batch that a watermark advance calls for — the batch that
  * closes append-mode windows and evicts unmatched outer-join rows —
  * and only then terminates. So a drain is done exactly when its query
  * is, with no wait hint, listener or poll; a failed batch surfaces as
  * the `StreamingQueryException` `awaitTermination` throws. The sink is
  * chosen by output mode alone ([[drainsToFileSink]]).
  *
  * Staging: a source the file stream cannot read as it is (a lone file,
  * or a table that needs a sentinel row or time-ordered chunks) is
  * staged into a fresh directory under the JVM's one scratch root
  * ([[graft.Scratch]]). Staged sources are memoized per JVM by (stager,
  * args), so a re-run reuses them, and the root is deleted when the JVM
  * exits. Drain sinks and checkpoints come from the same root and are
  * deleted as soon as their drain ends. */
object StreamingOps {

  /** The events table's on-disk `ts` physical type has CHANGED across
    * testdata generations: originally parquet TIMESTAMP(NANOS) (which
    * Spark 4 only reads as a raw long under the nanosAsLong legacy
    * conf), currently TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark reads as TIMESTAMP_NTZ). Pinning either shape broke the
    * other — so every events reader sniffs the footer once and
    * dispatches. Sniffing is one footer read, not a data scan — and
    * memoized per path, because one query can otherwise sniff the same
    * data three times (stageWithSentinel + two src() calls in the
    * stream-stream joins); a path's on-disk shape never changes within
    * a session (staged sentinel files are written in the SAME shape by
    * construction).
    *
    * The nanosAsLong legacy conf is intentionally session-global:
    * parquet NANOS columns are unreadable in Spark 4 without it, it is
    * idempotent, and the engine's only NANOS producer is this events
    * table — this helper is the single place that sets it. */
  private val tsTypeCache = new java.util.concurrent.ConcurrentHashMap[String, DataType]()
  def eventsTsType(spark: SparkSession, path: String): DataType = {
    // the conf is per-SESSION while the memo is per-JVM: set it on
    // EVERY call (idempotent), not inside the cache miss — a cache hit
    // from a fresh SparkSession must still make the follow-up read of
    // a NANOS file legal
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsTypeCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema("ts").dataType)
  }

  /** Pinned file-stream schema for an events source whose `ts` was
    * sniffed to `tsType` (file streams require a user schema). */
  def eventsRawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Normalize a just-read events frame so `ts` is session-zoned
    * TimestampType (microsecond precision) regardless of the on-disk
    * shape: raw nanos long → floor to micros; TIMESTAMP_NTZ → reinterpret
    * in the session zone (UTC everywhere in this engine, so the wall
    * clock — and therefore every oracle comparison — is unchanged). */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType    => df // already the engine convention
    case other => throw new IllegalArgumentException(
      s"normalizeTs: unsupported on-disk ts type $other — this dispatch exists to " +
        "name every supported shape; a new testdata generation needs a case here")
  }

  /** Streaming events source over an ALREADY-staged directory: sniffed
    * pinned schema + ts normalization. The single entry point all
    * events streams share, so the on-disk ts dispatch lives here once.
    *
    * `maxFilesPerTrigger` bounds per-trigger admission — the
    * cluster-shaped ingest the synchronous drain otherwise skips: state
    * builds and EVICTS incrementally across micro-batches instead of
    * materializing the whole input's sessions in one burst (the r13 q85
    * sf30 adjudication's named design limit). Pair it with
    * [[stageTimeOrderedWithSentinel]]: admission order is the source's
    * modification-time order, so chunk files must be staged in
    * event-time order or mid-stream rows arrive behind the watermark
    * and are DROPPED (a correctness change, not a perf knob). */
  def rawEventStream(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(eventsRawSchema(eventsTsType(spark, dir)))
    normalizeTs(maxFilesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toString)).parquet(dir))
  }

  /** Stage a single parquet file behind a directory: Spark's file stream
    * source only accepts directories (it lists them for new files), so a
    * lone file is exposed through a link in a staged directory — in
    * production the source would already be a landing directory. */
  def stageDir(path: String): String =
    if (Files.isDirectory(Paths.get(path))) path
    else memo("dir", path) {
      val dir = Scratch.dir("stream_dir")
      linkFiles(Paths.get(path), dir)
      dir
    }

  /** Streaming daily aggregate over an events directory: 1-day tumbling
    * windows keyed by event_type, 1-day watermark for late data. */
  def dailyAggStream(spark: SparkSession, path: String): DataFrame =
    eventStream(spark, path)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        to_date(col("w.start")).as("day"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Streaming daily top-k by value per event type, using the native
    * `topk_agg` bounded-heap aggregate ([[graft.plans]] TopKAgg) as the
    * windowed-aggregation state: each micro-batch folds its rows into
    * the k-slot buffer held in the state store (the serialize/merge
    * contract every TypedImperativeAggregate already carries), so state
    * per (window, type) is k pairs — never the window's rows. The
    * streaming answer to "top sellers today" that a row_number window
    * cannot express at all (no windows over streaming aggregates). */
  def dailyTopkStream(spark: SparkSession, path: String, k: Int = 3): DataFrame =
    eventStream(spark, path)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(expr(s"topk_agg(value, event_id, $k)").as("top"))
      .select(to_date(col("w.start")).as("day"), col("event_type"), col("top"))

  /** Stateful streaming exact-dedup: per content-hash group state
    * remembers whether the hash has been seen; only the first document
    * per fingerprint is emitted, across micro-batches. The custom-state
    * path (`flatMapGroupsWithState`) the training-data pipeline needs
    * when dedup must span an unbounded stream — a windowed aggregate
    * cannot express "seen ever". State is one boolean per fingerprint;
    * at 100 TB the state store backs onto RocksDB and the fingerprint
    * space is what bounds memory, not the corpus. */
  def dedupStream(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val keyed = docs
      .selectExpr("md5(text) AS fingerprint", "doc_id", "text")
      .as[(String, Long, String)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[Boolean, (String, Long)](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (fp: String, rows: Iterator[(String, Long, String)], state: GroupState[Boolean]) =>
        if (state.exists) Iterator.empty
        else {
          state.update(true)
          // deterministic survivor: min doc_id within this batch's group
          val keep = rows.map(_._2).min
          Iterator.single((fp, keep))
        }
    }.toDF("fingerprint", "keep_id")
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * views within the time bound, both sides watermarked so the join
    * state is bounded (Spark buffers each side only until the watermark
    * passes the interval — unbounded state otherwise). The streaming
    * counterpart of [[graft.operators.RangeJoin]]. */
  def purchaseViewJoin(purchases: DataFrame, views: DataFrame,
      toleranceSec: Long = 900): DataFrame = {
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val v = views
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    p.join(v,
      col("p_user") === col("v_user") &&
        col("p_ts") >= col("v_ts") - expr(s"INTERVAL $toleranceSec SECONDS") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $toleranceSec SECONDS"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("view_id"),
        col("p_ts"), col("v_ts"))
  }

  /** Incremental partition-upsert sink: each micro-batch dynamically
    * overwrites ONLY the (day-)partitions it touches, so a re-delivered
    * or late batch refreshes its own days without truncating history —
    * the streaming counterpart of `PipelineOps.writePartitioned`, and
    * the production landing shape for a continuously-aggregated table
    * (complete/update-mode aggregates cannot append; per-partition
    * overwrite makes each batch idempotent). `foreachBatch` is the
    * escape hatch Spark provides exactly for sinks the built-ins can't
    * express; the inner write is a normal batch write, so AQE and
    * dynamic overwrite apply. */
  def partitionUpsertSink(stream: DataFrame, path: String,
      partitionCol: String = "day",
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = upsertWriter(stream, path, partitionCol)
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  private def upsertWriter(stream: DataFrame, path: String, partitionCol: String) =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          batch.write
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .parquet(path)
        }
      }

  /** Streaming dedup with BOUNDED state — the TTL fix for
    * [[dedupStream]]'s NoTimeout `GroupState` (whose fingerprint state
    * grows forever; at 100 TB of continuous ingest that is the state
    * store that eventually evicts everything else):
    * `dropDuplicatesWithinWatermark` keeps the FIRST row per
    * fingerprint and lets the watermark expire fingerprint state once
    * event time moves `ttl` past it. The semantic trade is explicit
    * and intended: a duplicate re-delivered WITHIN the ttl is dropped;
    * one arriving after state expiry lands again — exactly the
    * contract of every production streaming dedup (dedup windows, not
    * dedup forever), and the two paths q226 plants and hash-checks. */
  def dedupStreamTtl(docs: DataFrame, ttl: String): DataFrame =
    docs.selectExpr("doc_id", "ts", "md5(text) AS fingerprint")
      .withWatermark("ts", ttl)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Sink selection for [[drain]], BY OUTPUT MODE. Append-mode results
    * are ROW-scale (every closed window / evicted outer row / surviving
    * dedup row), so they land in the executor-side parquet file sink:
    * the memory sink serializes every result row to the driver, and at
    * derived sf10 the q85 session drain produced >1 GiB of task results
    * and died on spark.driver.maxResultSize (q87 paid 118 s serializing
    * 2 M rows). Complete- and update-mode results are AGGREGATE-scale (a
    * re-emitted result table whose size does not grow with the data)
    * and file sinks are append-only, so they stay on the memory sink. */
  private[graft] def drainsToFileSink(outputMode: String): Boolean =
    outputMode == "append"

  /** Adaptive drain width (r13): one state partition per ~1 MiB of
    * compressed source, clamped to [4, session shuffle partitions] —
    * sized from FILE bytes (no scan, no schema read, so the
    * nanos-timestamped events files are fine). Replaces the width-4
    * constant as the call-site default for row-scale stateful drains:
    * the constant was a small-scale optimization (state-store INIT
    * dominates tiny drains, ~1 s each across 13 streaming queries in
    * the official sf0.1 artifact), but at derived sf10 four
    * single-threaded state partitions became the bottleneck — q85's
    * isolated no-knob drain read 50.5 s at width 4 vs ~13 s at full
    * width. The byte heuristic lands 4 at sf0.1 (2 MiB events), 16 at
    * sf1 (where width 16 was measured ~linear), and the full session
    * width at sf10+ (156 MiB+); on a real cluster the clamp is the
    * session's own shuffle partitions, so the caller's sizing applies
    * unchanged. */
  def adaptiveDrainWidth(spark: SparkSession, paths: String*): Int = {
    val bytes = paths.map { p =>
      try {
        val path = Paths.get(p)
        if (Files.isDirectory(path)) {
          val s = Files.walk(path)
          try s.filter((f: java.nio.file.Path) => Files.isRegularFile(f))
            .mapToLong((f: java.nio.file.Path) => Files.size(f)).sum()
          finally s.close()
        } else Files.size(path)
      } catch { case _: Exception => 0L }
    }.sum
    val target = (bytes >> 20).toInt // MiB
    math.max(4, math.min(spark.conf.get("spark.sql.shuffle.partitions").toInt, target))
  }

  /** State-store provider class for a drain's `stateStore`. None keeps
    * the session's provider (by default HDFSBackedStateStoreProvider,
    * which holds EVERY state row in executor heap — at 100× state the
    * provider, not the plan, is the first thing to fall over).
    * "rocksdb" selects Spark's built-in RocksDBStateStoreProvider: state
    * lives off-heap in a spill-to-disk LSM keyed store, bounded by disk,
    * not heap. Results are provider-invariant
    * ([[graft.StateStoreProviderSpec]]; q300/q304/q308 hash to q85/q87's
    * batch oracles). */
  private def providerClass(stateStore: Option[String]): Option[String] =
    stateStore.map {
      case "rocksdb" =>
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      case other => throw new IllegalArgumentException(
        s"stateStore: unknown provider '$other' (the only choice is \"rocksdb\")")
    }

  /** Run `body` inside one drain's conf scope, handing it a fresh
    * checkpoint directory; shared by [[drain]] and [[runUpsertToDir]].
    * Everything below is result-invariant:
    *  - shuffle width `min(session, width)`: stateful cost at local
    *    scale is per-partition state-store init (one provider per
    *    shuffle partition per stateful operator), not data; the `min`
    *    leaves a cluster-sized setting untouched;
    *  - the provider from `stateStore`, and for RocksDB CHANGELOG
    *    checkpointing: the default full-snapshot mode re-uploads the
    *    store's SST set every micro-batch, exactly the per-batch cost
    *    the bounded-admission queries multiply by their batch count
    *    (measured at sf0.1: the three RocksDB drains 12.8 -> 11.1 s);
    *  - the checkpoint is a [[Scratch.memDir]], on tmpfs when
    *    /dev/shm is writable: a drain never restarts, so its
    *    offset/commit WAL and state files are ephemeral (measured ~15%
    *    off the five-query stream family vs disk /tmp);
    *  - afterwards the confs are restored, the checkpoint deleted, and
    *    every loaded StateStoreProvider unloaded with its maintenance
    *    pool stopped, so background maintenance neither taxes later
    *    queries nor stack-traces into the session's shutdown. Providers
    *    reload lazily if another streaming query runs. */
  private def inDrainScope[T](spark: SparkSession, width: Int,
      stateStore: Option[String])(body: String => T): T = {
    val shufflePartitions = "spark.sql.shuffle.partitions"
    val provider = providerClass(stateStore)
    val confs = Seq(
      shufflePartitions ->
        Some(math.min(spark.conf.get(shufflePartitions).toInt, width).toString),
      "spark.sql.streaming.stateStore.providerClass" -> provider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        provider.filter(_.contains("RocksDB")).map(_ => "true"))
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    val ckpt = Scratch.memDir("drain_ckpt")
    try {
      confs.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
      body(ckpt.toString)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
      try org.apache.spark.sql.graft.StateStoreHooks.stopAll()
      catch { case _: Exception => () }
      FileUtils.deleteQuietly(ckpt.toFile)
    }
  }

  /** A drain's result table and the query's progress reports, one per
    * micro-batch. `dataBatches` counts the batches that admitted rows —
    * the bounded-admission queries `require` >= 2 of them (state must
    * genuinely build across batches, or "bounded admission" silently
    * degraded to a single burst). */
  case class DrainResult(df: DataFrame,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
    def dataBatches: Int = progress.count(_.numInputRows > 0)
  }

  /** Drain a streaming query to completion and return its result table
    * — the one harness every streaming query's batch proof runs through.
    * The query runs with `Trigger.AvailableNow` (see the object
    * Scaladoc) inside [[inDrainScope]] at width `drainPartitions` on
    * `stateStore`'s provider. The sink follows the output mode
    * ([[drainsToFileSink]]): append lands in a parquet file sink and is
    * read back and materialized before its directory is deleted;
    * complete and update drain to a memory sink named `name`. */
  def drain(spark: SparkSession, stream: DataFrame, name: String,
      outputMode: String = "complete", drainPartitions: Int = 4,
      stateStore: Option[String] = None): DrainResult = {
    import org.apache.spark.sql.streaming.Trigger
    val out = Option.when(drainsToFileSink(outputMode))(Scratch.dir("drain_out"))
    try inDrainScope(spark, drainPartitions, stateStore) { ckpt =>
      val w = stream.writeStream
        .outputMode(outputMode)
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
      val q = out.fold(w.format("memory"))(p =>
        w.format("parquet").option("path", p.toString)).start()
      q.awaitTermination()
      // localCheckpoint(eager) moves the file sink's rows into executor
      // block storage, so the result outlives its deleted directory;
      // the memory sink's rows already live off-disk
      val df = out.fold(spark.table(name))(p =>
        spark.read.schema(stream.schema).parquet(p.toString).localCheckpoint(true))
      DrainResult(df, q.recentProgress.toSeq)
    } finally out.foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  /** The one staging memo, keyed by (stager, args): staging pays data
    * scans and write jobs, a staged directory is immutable once built,
    * and the bench harness re-runs every query — without the memo the
    * same source stages 2× per query × 3 queries. */
  private val staged = new java.util.concurrent.ConcurrentHashMap[(String, Any), String]()
  private def memo(stager: String, args: Any)(stage: => Path): String =
    staged.computeIfAbsent((stager, args), _ => stage.toString)

  /** Link `source`'s data into `dir`: a file as itself, a directory as
    * each of its visible part files. The file stream source does not
    * descend into a symlinked subdirectory (it lists leaves), so a
    * multi-file source is flattened — found at the derived sf1, where
    * the single-file symlink silently staged an empty stream. Copies
    * where the file system refuses links. */
  private def linkFiles(source: Path, dir: Path): Unit = {
    val files =
      if (Files.isDirectory(source)) listed(source)(f => { val n = f.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".") && Files.isRegularFile(f) })
      else Seq(source)
    files.foreach { f =>
      val link = dir.resolve(f.getFileName)
      try Files.createSymbolicLink(link, f.toAbsolutePath)
      catch { case _: Exception => Files.copy(f, link) }
    }
  }

  /** `dir`'s entries that pass `keep`, in name order. */
  private def listed(dir: Path)(keep: Path => Boolean): Seq[Path] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.filter(keep).toSeq.sortBy(_.getFileName.toString)
    finally ls.close()
  }

  /** The `part-*.parquet` files a write left in `dir`, in name order
    * (for a range-partitioned write, range order). */
  def partFiles(dir: Path): Seq[Path] = listed(dir)(f => { val n = f.getFileName.toString
    n.startsWith("part-") && n.endsWith(".parquet") })

  /** Move already-written files into `dir` under their new names and
    * stamp them with strictly increasing modification times in sequence
    * order, all in the past (1 s apart: coarse enough to survive file
    * systems with second-granularity mtime). The file stream source
    * admits oldest-mtime first, so the sequence IS the admission order
    * of a bounded (`maxFilesPerTrigger`) drain. */
  def landInOrder(dir: Path, files: Seq[(Path, String)]): Unit = {
    val base = System.currentTimeMillis() - (files.size + 4) * 1000L
    files.zipWithIndex.foreach { case ((f, name), i) =>
      val tgt = Files.move(f, dir.resolve(name))
      Files.setLastModifiedTime(tgt, FileTime.fromMillis(base + i * 1000L))
    }
  }

  /** Write the far-future sentinel events row(s) into `dir`: one row per
    * `types` entry (event_id -1, -2, …, user_id -1), stamped a day past
    * the last event of `events` (already [[normalizeTs]]-ed), with `ts`
    * in the physical shape `tsType` of the files it sits next to — one
    * pinned stream schema reads both. An empty source gets no sentinel:
    * it has no sessions to close. */
  private def writeEventsSentinel(spark: SparkSession, events: DataFrame,
      tsType: DataType, types: Seq[String], dir: Path): Unit = {
    val maxRow = events.agg(max(unix_micros(col("ts")))).head()
    Option.unless(maxRow.isNullAt(0))(maxRow.getLong(0)).foreach { us =>
      import spark.implicits._
      val sentinelUs = us + 86400L * 1000000L
      val sentinelTsCol = tsType match {
        case LongType         => lit(sentinelUs * 1000L) // raw nanos
        case TimestampNTZType => timestamp_micros(lit(sentinelUs)).cast(TimestampNTZType)
        case _                => timestamp_micros(lit(sentinelUs))
      }
      types.zipWithIndex
        .map { case (t, i) => (-(i + 1).toLong, -1L, t, 0.0, "") }
        .toDF("event_id", "user_id", "event_type", "value", "props")
        .withColumn("ts", sentinelTsCol)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir.toString)
    }
  }

  /** Stage a single events parquet file behind a fresh directory PLUS a
    * one-row far-future sentinel file: an append-mode session/window
    * aggregate only emits windows the WATERMARK has closed, and with
    * one real file everything lands in micro-batch 1 while the
    * watermark (which lags a batch) is still at zero — nothing would
    * ever emit. The sentinel (negative ids, filtered by the caller)
    * pushes the watermark a day past the last real event, so the
    * trailing no-data batch emits every real window.
    *
    * `sentinelTypes`: event_type value(s) for the sentinel row(s). A
    * query that filters the stream by event_type needs sentinels OF
    * THOSE TYPES — the optimizer pushes a non-ts predicate BELOW the
    * EventTimeWatermark operator, so an off-type sentinel is filtered
    * before watermark tracking ever sees it and the watermark never
    * advances (observed: the last watermark-delay's worth of rows
    * never evicted). Sentinels carry user_id = -1 for the caller to
    * filter from the OUTPUT instead.
    *
    * @return the staged dir, memoized per (path, sentinelTypes). */
  def stageWithSentinel(spark: SparkSession, path: String,
      sentinelTypes: Seq[String] = Seq("sentinel")): String =
    memo("sentinel", (path, sentinelTypes)) {
      val dir = Scratch.dir("stream_sentinel")
      linkFiles(Paths.get(path), dir)
      val tsType = eventsTsType(spark, path)
      writeEventsSentinel(spark, normalizeTs(spark.read.parquet(path)), tsType,
        sentinelTypes, dir)
      dir
    }

  /** Stage events as `chunks` TIME-RANGE-partitioned files (plus the
    * far-future sentinel, staged LAST) so a bounded-admission drain
    * ([[rawEventStream]] with maxFilesPerTrigger = 1) replays the
    * table as `chunks` successive micro-batches in event-time order —
    * the local proof harness for "a cluster's per-trigger admission
    * bounds batch size" (r13 verdict item 1).
    *
    * Mechanics: the table is range-repartitioned on ts into `chunks`
    * contiguous event-time slices, each written as ONE file in one
    * write job; [[landInOrder]] then admits them in range order, the
    * sentinel newest, so the watermark only passes the real data once
    * everything is in state. Ordering is what makes bounded admission
    * RESULT-INVARIANT: chunk i+1's earliest event is >= chunk i's
    * latest, and the watermark lags max event time by the configured
    * delay, so no mid-stream row ever arrives behind the watermark
    * (nothing is dropped as late) — sessions spanning a boundary stay
    * in state and merge in the next batch, closed sessions evict batch
    * by batch. The staged files are normalized to microsecond
    * timestamps (this is a fresh rewrite, not symlinks, so the NANOS
    * legacy shape never reaches the stream). Memoized per (path,
    * chunks). */
  def stageTimeOrderedWithSentinel(spark: SparkSession, path: String,
      chunks: Int): String =
    memo("time-ordered", (path, chunks)) {
      require(chunks >= 1, s"chunks must be >= 1, got $chunks")
      eventsTsType(spark, path) // sets the NANOS legacy conf if needed
      val df = normalizeTs(spark.read.parquet(path))
      val build = Scratch.dir("stream_chunks_build")
      df.repartitionByRange(chunks, col("ts"), col("event_id"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(build.toString)
      val sentinel = Scratch.dir("stream_chunks_sentinel")
      writeEventsSentinel(spark, df, TimestampType, Seq("sentinel"), sentinel)
      val dir = Scratch.dir("stream_chunks")
      landInOrder(dir,
        partFiles(build).zipWithIndex.map { case (f, i) => f -> f"c$i%05d.parquet" } ++
          partFiles(sentinel).map(_ -> "sentinel.parquet"))
      dir
    }

  /** Staged-documents schema for [[stageDocsWithSentinel]]. */
  val docsStagedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** Stage the documents table as a timestamped streaming source:
    * event time is DERIVED deterministically (epoch base + doc_id
    * minutes — both engines can restate it), plus one far-future
    * sentinel doc (doc_id = −1, lang "zz") whose only job is to
    * advance the watermark past every real window so append-mode
    * windows all emit in the trailing no-data batch. Returns the
    * staged dir, memoized per (path, epochBase). */
  def stageDocsWithSentinel(spark: SparkSession, path: String,
      epochBase: Long = 1704067200L /* 2024-01-01 00:00:00 UTC */): String =
    memo("docs", (path, epochBase)) {
      val dir = Scratch.dir("stream_docs")
      val docs = spark.read.parquet(path)
        .select(col("doc_id"), col("lang"), col("text"),
          timestamp_seconds(lit(epochBase) + col("doc_id") * 60L).as("ts"))
      import spark.implicits._
      val sentinel = Seq((-1L, "zz", "x"))
        .toDF("doc_id", "lang", "text")
        .withColumn("ts", timestamp_seconds(lit(epochBase) + lit(86400L * 365L)))
      docs.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(dir.toString)
      dir
    }

  /** Drain a stream through [[partitionUpsertSink]] to completion and
    * read the landed table back — the test/verify harness for the sink,
    * in the same conf scope and with the same `Trigger.AvailableNow` as
    * [[drain]]. */
  def runUpsertToDir(spark: SparkSession, stream: DataFrame, path: String,
      partitionCol: String = "day", drainPartitions: Int = 4): DataFrame = {
    inDrainScope(spark, drainPartitions, stateStore = None) { ckpt =>
      upsertWriter(stream, path, partitionCol)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    spark.read.parquet(path)
  }

  /** Streaming events source: the events table staged behind a
    * file-stream directory, ts normalized to a microsecond timestamp
    * (same convention as [[dailyAggStream]]/Tables.events). */
  def eventStream(spark: SparkSession, path: String): DataFrame =
    rawEventStream(spark, stageDir(path))

  /** Continuous ingest-dedup loop against a persisted
    * [[graft.operators.Dedup.writeLshIndex]] index — the production
    * corpus-building shape (CCNet/Dolma run exactly this daily): each
    * micro-batch is (1) deduplicated WITHIN itself
    * ([[graft.operators.Dedup.dedupSurvivors]] — min-id survivor per
    * near-dup cluster), (2) probed against the index and stripped of
    * docs that near-duplicate the already-ingested corpus — including
    * re-deliveries, which the set-equal shingle property catches
    * deterministically at J = 1.0, (3) landed to `survivorPath`, and
    * (4) APPENDED to the index so the NEXT batch dedups against it.
    * `foreachBatch` is the right vehicle: every step is a normal batch
    * plan (AQE, broadcast, bucket pruning all apply), and the
    * index-append makes the sink stateful across batches WITHOUT any
    * streaming state store — the state IS the bucketed index tables.
    * Survivors are persisted for the duration of the batch: land +
    * append are two consumers of one sketch/probe pipeline. */
  def lshDedupIngestSink(stream: DataFrame, indexName: String,
      survivorPath: String, threshold: Double = 0.5,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          // an ingest batch is small relative to the corpus by
          // construction, but its dedup/probe pipeline is MANY small
          // jobs — run them at a reduced partition count (restored
          // after; min-ed so a cluster-sized setting is untouched),
          // the drain's width discipline. Result-invariant.
          val key = "spark.sql.shuffle.partitions"
          val prev = s.conf.get(key)
          s.conf.set(key, math.min(prev.toInt, 8).toString)
          try {
            val intra = graft.operators.Dedup.dedupSurvivors(batch, threshold = threshold)
            val dupIds = graft.operators.Dedup
              .nearDupsFromLshIndex(s, intra, indexName, threshold)
              .select(col("doc_a").as("doc_id")).distinct()
            val survivors = intra.join(dupIds, Seq("doc_id"), "left_anti")
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            try {
              survivors.write.mode(org.apache.spark.sql.SaveMode.Append)
                .parquet(survivorPath)
              graft.operators.Dedup.appendToLshIndex(s, survivors, indexName)
            } finally survivors.unpersist(false)
          } finally s.conf.set(key, prev)
        }
      }
    checkpoint.foreach(c => w.option("checkpointLocation", c))
    w.start()
  }

  /** Streaming documents source: the documents table staged behind a
    * file-stream directory with a pinned schema (file streams require
    * a user schema). */
  def documentStream(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.readStream.schema(schema).parquet(stageDir(path))
  }
}
