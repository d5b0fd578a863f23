package graft

import org.apache.spark.sql.SparkSession

/** Dump formatted physical plans for plan-quality review (dev tool).
  * Besides `SparkEntry.queries` names, accepts `op_*` pseudo-names for
  * operator-level plans that a driver query hides behind a
  * localCheckpoint (the checkpoint truncates the visible plan to an
  * RDD scan; the operator form shows the full pipeline). */
object DebugExplain {
  private val opPlans: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "op_minhash_pairs" -> ((sp, dir) => graft.operators.Dedup.minhashNearDups(
      graft.sources.Tables.documents(sp, dir), threshold = 0.5)),
    // distributed CC path (localThreshold = 0): the default would route
    // a testdata-sized pair list through the driver union-find, whose
    // plan is a LocalTableScan — not the shape worth auditing
    "op_cc_distributed" -> ((sp, dir) => graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.ngramJaccardPairs(
        graft.sources.Tables.documents(sp, dir), threshold = 0.8),
      localThreshold = 0)),
    // writeLshIndex's shingle-table projection (the write action's
    // input plan — the index WRITE itself has no query plan to dump):
    // where the per-shingle hash family runs at corpus scale, so the
    // r15 md5_h1_seq / xxhash64_seq dispatch change is visible here
    "op_lsh_sigs" -> ((sp, dir) => graft.operators.Dedup.lshSigsProjection(
      graft.sources.Tables.documents(sp, dir), md5Mode = true)),
    // the pre-r15 form of the same projection (per-shingle hash via the
    // interpreted SQL transform lambda) — kept dumpable so the plan
    // diff md5_h1_seq replaced is reproducible from this commit alone
    "op_lsh_sigs_legacy" -> { (sp, dir) =>
      import org.apache.spark.sql.functions._
      graft.operators.Dedup.minhashSignatures(
        graft.sources.Tables.documents(sp, dir), md5Mode = true)
        .select(col("doc_id"),
          expr("transform(sh, x -> cast(conv(substring(md5(x), 1, 15), 16, 10) as bigint))").as("sh_h"),
          col("bandhash"))
    },
    // q108's probe plan (the driver query checkpoints each probe):
    // build the index, then show one probe — the audit points are the
    // bucket-pruned bands scan and the absence of any corpus text scan
    "op_lsh_probe" -> { (sp, dir) =>
      import sp.implicits._
      graft.operators.Dedup.writeLshIndex(sp,
        graft.sources.Tables.documents(sp, dir), "debug_lsh_idx", buckets = 8)
      val probe = Seq((-1L, "aa1 aa2 aa3 aa4 aa5 aa6 aa1 aa2 aa3 aa4 aa5 aa6"))
        .toDF("doc_id", "text")
      graft.operators.Dedup.nearDupsFromLshIndex(sp, probe, "debug_lsh_idx")
    })

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q02_filter_project", "q03_join_agg", "q04_join_broadcast", "q34_knn_bruteforce")
    // same engine conf as Verify/Bench so dumped plans match
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = opPlans.get(n).map(_(spark, sfDir))
        .getOrElse(SparkEntry.select(Some(n)).head.run(spark, sfDir))
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
