package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** The persisted LSH near-dup index lifecycle (build → probe → append
  * → probe) plus its plan discipline: a probe must not scan corpus
  * text, and the pruned path must bucket-prune the bands table. */
class LshIndexSpec extends AnyFunSuite with SparkFixture {

  private def rep(cycle: String, times: Int) = Array.fill(times)(cycle).mkString(" ")
  private val cycleA = "aa1 aa2 aa3 aa4 aa5 aa6"
  private val cycleB = "bb1 bb2 bb3 bb4 bb5 bb6"

  private def corpus = {
    val s = spark; import s.implicits._
    ((1L, rep(cycleA, 3)) +: (10L until 40L).map(i =>
      (i, s"filler${i} x${i}a x${i}b x${i}c x${i}d x${i}e x${i}f x${i}g"))).toDF("doc_id", "text")
  }

  test("probe finds an indexed set-equal near-dup; novel doc matches nothing") {
    val s = spark; import s.implicits._
    Dedup.writeLshIndex(s, corpus, "lsh_spec_idx", buckets = 4)
    val batch = Seq((100L, rep(cycleA, 4)), (101L, rep(cycleB, 3))).toDF("doc_id", "text")
    val pairs = Dedup.nearDupsFromLshIndex(s, batch, "lsh_spec_idx").collect()
    assert(pairs.length == 1, s"got ${pairs.mkString(",")}")
    assert(pairs.head.getLong(0) == 100L && pairs.head.getLong(1) == 1L)
    assert(pairs.head.getDouble(2) == 1.0, "set-equal shingles must verify at J=1")
  }

  test("append makes a batch visible to subsequent probes") {
    val s = spark; import s.implicits._
    Dedup.writeLshIndex(s, corpus, "lsh_spec_idx2", buckets = 4)
    val batch1 = Seq((101L, rep(cycleB, 3))).toDF("doc_id", "text")
    assert(Dedup.nearDupsFromLshIndex(s, batch1, "lsh_spec_idx2").count() == 0)
    Dedup.appendToLshIndex(s, batch1, "lsh_spec_idx2")
    val batch2 = Seq((200L, rep(cycleB, 4))).toDF("doc_id", "text")
    val pairs = Dedup.nearDupsFromLshIndex(s, batch2, "lsh_spec_idx2").collect()
    assert(pairs.length == 1 && pairs.head.getLong(1) == 101L)
  }

  test("streaming ingest-dedup sink: re-delivery dropped, novel survivor lands and is indexed") {
    val s = spark; import s.implicits._
    Dedup.writeLshIndex(s, corpus, "lsh_spec_stream", buckets = 4)
    val batch = Seq(
      (500L, rep(cycleA, 4)),  // near-dups indexed doc 1 → dropped by probe
      (501L, rep(cycleB, 3)),  // novel intra pair: min id 501 survives,
      (502L, rep(cycleB, 4)))  // 502 dropped by intra-batch dedup
      .toDF("doc_id", "text")
    val tmp = Scratch.dir("lsh_stream_spec").toString
    batch.repartition(1).write.parquet(s"$tmp/in")
    val stream = s.readStream.schema("doc_id LONG, text STRING").parquet(s"$tmp/in")
    val q = graft.streaming.StreamingOps.lshDedupIngestSink(
      stream, "lsh_spec_stream", s"$tmp/landed", checkpoint = Some(s"$tmp/ckpt"))
    try q.processAllAvailable() finally q.stop()
    val landed = s.read.parquet(s"$tmp/landed").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(landed.toSeq == Seq(501L), s"got ${landed.toSeq}")
    // the landed survivor is now indexed: a follow-up probe finds it
    val followUp = Dedup.nearDupsFromLshIndex(s,
      Seq((600L, rep(cycleB, 5))).toDF("doc_id", "text"), "lsh_spec_stream").collect()
    assert(followUp.length == 1 && followUp.head.getLong(1) == 501L)
  }

  test("probe and append fail fast on a sketch-format version mismatch") {
    val s = spark; import s.implicits._
    Dedup.writeLshIndex(s, corpus, "lsh_spec_ver", buckets = 4)
    val batch = Seq((100L, rep(cycleA, 4))).toDF("doc_id", "text")
    // sanity: the fresh index probes fine
    assert(Dedup.nearDupsFromLshIndex(s, batch, "lsh_spec_ver").count() == 1)
    // simulate an index persisted under the retired v1 affine family
    graft.sources.Sinks.replaceManagedTable(
      Seq((32, 8, 4, 1)).toDF("k", "bands", "buckets", "sketch_version"),
      "lsh_spec_ver_meta")()
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDupsFromLshIndex(s, batch, "lsh_spec_ver").collect()
    }
    assert(e.getMessage.contains("format v1"), e.getMessage)
    // a pre-versioning meta (no sketch_version column) reads as v1:
    // appends must refuse too, not silently mix hash families
    graft.sources.Sinks.replaceManagedTable(
      Seq((32, 8, 4)).toDF("k", "bands", "buckets"), "lsh_spec_ver_meta")()
    intercept[IllegalArgumentException] {
      Dedup.appendToLshIndex(s, batch, "lsh_spec_ver")
    }
  }

  test("pruned probe plan: bucket pruning on bands, no corpus text scan") {
    val s = spark; import s.implicits._
    Dedup.writeLshIndex(s, corpus, "lsh_spec_idx3", buckets = 4)
    val batch = Seq((100L, rep(cycleA, 4))).toDF("doc_id", "text")
    // candidate phase (pre-checkpoint — the probe's checkpoint
    // truncates its visible plan): bands scan must bucket-prune
    val sigs = Dedup.minhashSignatures(batch)
      .select(col("doc_id").as("doc_a"),
        expr("transform(sh, x -> xxhash64(x))").as("sh_a"), col("bandhash"))
    val candPlan = Dedup.lshIndexCandidates(s, sigs, "lsh_spec_idx3", 64)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("SelectedBucketsCount"),
      s"bands scan should bucket-prune via the literal probe keys:\n$candPlan")
    // end-to-end probe: the verify joins sit ABOVE the candidate
    // checkpoint, so the final plan must show the persisted
    // shingle-hash table as its only text-free verification source
    val pairs = Dedup.nearDupsFromLshIndex(s, batch, "lsh_spec_idx3")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("lsh_spec_idx3_shingles"), "verify side must read the index")
    assert(pairs.count() == 1)
  }
}
