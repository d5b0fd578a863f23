package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** DSv2 source partition planning + stateful streaming dedup. */
class SourceV2Spec extends AnyFunSuite with SparkFixture {

  test("EiaPagedSource: one partition per page, deterministic rows, downstream resample") {
    val df = spark.read.format("graft.sources.v2.EiaPagedSource")
      .option("total", 72).option("pageSize", 30)
      .option("region", "NYIS").option("start", "2024-03-01")
      .load()
    assert(df.count() == 72)
    assert(df.rdd.getNumPartitions == 3) // ceil(72/30) pages planned
    val first = df.orderBy("period").collect().head
    assert(first.getString(0) == "2024-03-01T00" && first.getString(1) == "NYIS")
    // same row twice → deterministic
    assert(df.orderBy("period").collect().head.getString(2) ==
      graft.sources.v2.EiaPagedSource.valueAt("NYIS", 0))
    // downstream: the engine's cast+resample path consumes it directly
    val daily = df
      .select(to_timestamp(col("period"), "yyyy-MM-dd'T'HH").as("ts"),
        expr("try_cast(value AS double)").as("value"), lit("NY").as("city"))
    val res = graft.operators.EnergyOps.resampleDaily(daily).orderBy("date").collect()
    assert(res.length == 3) // 72 hours = 3 days
    assert(res.forall(!_.isNullAt(2)))
  }

  test("stream-stream interval join matches views within the time bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val pIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = StreamingOps.purchaseViewJoin(
      pIn.toDF().toDF("user_id", "event_id", "ts"),
      vIn.toDF().toDF("user_id", "event_id", "ts"),
      toleranceSec = 60)
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      pIn.addData((1L, 100L, t(120)))
      vIn.addData((1L, 200L, t(90)),  // within 60s → match
        (1L, 201L, t(0)),             // 120s away → no match
        (2L, 202L, t(110)))           // other user → no match
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("view_id"))).toSet
      assert(rows == Set((100L, 200L)))
    } finally q.stop()
  }

  test("watermark finalizes windows and drops data later than the bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(hm: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $hm:00")
    val input = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("start"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      // batch 1: two rows in the 10:00 window + one at 11:00
      input.addData((t("10:00"), 1.0), (t("10:05"), 2.0), (t("11:00"), 3.0))
      q.processAllAvailable() // after this, watermark = 10:50
      // batch 2: advance again -> the 10:00 window (end 10:10 <= 10:50)
      // is finalized and emitted exactly once, with batch-1's count
      input.addData((t("12:30"), 4.0))
      q.processAllAvailable()
      // batch 3: a LATE row for the finalized 10:00 window -> dropped
      input.addData((t("10:06"), 99.0), (t("13:30"), 5.0))
      q.processAllAvailable()
      input.addData((t("15:00"), 6.0))
      q.processAllAvailable()
      val out = spark.table("wm_out").collect()
        .map(r => r.getAs[java.sql.Timestamp]("start").toString -> r.getAs[Long]("n"))
      val w10 = out.filter(_._1.startsWith("2024-01-01 10:00"))
      assert(w10.toSeq == Seq("2024-01-01 10:00:00.0" -> 2L),
        s"late row must be dropped, window emitted once: ${out.toSeq}")
    } finally q.stop()
  }

  test("partition-upsert sink: late batch refreshes its day without truncating history") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Scratch.dir("upsert").toString
    val ckpt = Scratch.dir("upsert_ckpt").toString
    val input = MemoryStream[(String, String, Double)]
    val agg = input.toDF().toDF("day", "event_type", "value")
      .groupBy("day", "event_type").agg(sum("value").as("total"))
    val q = StreamingOps.partitionUpsertSink(agg, dir, "day", Some(ckpt))
    try {
      input.addData(("2024-01-01", "click", 1.0), ("2024-01-02", "click", 2.0))
      q.processAllAvailable()
      // late data for day 1 only: its partition must be REPLACED with the
      // updated aggregate while day 2's partition survives untouched
      input.addData(("2024-01-01", "click", 4.0))
      q.processAllAvailable()
      // partition-column type inference reads `day` back as DATE — stringify
      val out = spark.read.parquet(dir).collect()
        .map(r => (String.valueOf(r.getAs[Any]("day")), r.getAs[Double]("total"))).toMap
      assert(out == Map("2024-01-01" -> 5.0, "2024-01-02" -> 2.0), s"got $out")
    } finally q.stop()
  }

  test("stateful streaming dedup emits first doc per fingerprint across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = StreamingOps.dedupStream(spark, docs).writeStream
      .outputMode("append").format("memory").queryName("dedup_out").start()
    try {
      input.addData((1L, "aaa"), (2L, "aaa"), (3L, "bbb"))
      q.processAllAvailable()
      input.addData((4L, "aaa"), (5L, "ccc")) // aaa already seen in state
      q.processAllAvailable()
      val out = spark.table("dedup_out").collect()
        .map(r => r.getAs[Long]("keep_id")).toSet
      assert(out == Set(1L, 3L, 5L)) // 2 deduped in-batch, 4 deduped via state
    } finally q.stop()
  }

  test("streaming quality monitor equals its batch restatement window for window") {
    val s = spark
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val streamed = graft.queries.CorpusQueries.q123StreamQualityMonitor(s, d)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val batch = graft.sources.Tables.documents(s, d)
      .withColumn("__toks", graft.functions.TextFunctions.tokens("text"))
      .withColumn("n_words", size(col("__toks")).cast("long"))
      .withColumn("n_tokchars", expr("aggregate(__toks, 0L, (a, t) -> a + length(t))"))
      .withColumn("ts", timestamp_seconds(lit(1704067200L) + col("doc_id") * 60L))
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_words") < 50, 1L).otherwise(0L)).as("n_short"),
        sum("n_words").as("sum_words"),
        round(sum("n_tokchars") / sum("n_words"), 4).as("avg_word_len"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss"), col("lang"),
        col("n_docs"), col("n_short"), col("sum_words"), col("avg_word_len"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(streamed.nonEmpty && streamed == batch,
      s"streaming vs batch diverged: ${(batch.keySet -- streamed.keySet).take(3)} missing")
  }
}
