package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Sinks

/** Scale-mechanics tests: bucketed joins plan without exchanges, salted
  * joins preserve results, the extensions class installs the native
  * functions. */
class ScaleSpec extends AnyFunSuite with SparkFixture {

  test("bucketed tables join without a shuffle exchange") {
    val s = spark; import s.implicits._
    // runtime conf: the one fixture session is built without it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    val weather = (0 until 1000).map(i => (i % 97, s"city${i % 5}", i * 1.0))
      .toDF("date_id", "city", "temp")
    val energy = (0 until 1000).map(i => (i % 89, s"city${i % 5}", i * 2.0))
      .toDF("date_id", "city", "gwh")
    Sinks.writeBucketed(weather, "w_bucketed", 4, Seq("date_id"))
    Sinks.writeBucketed(energy, "e_bucketed", 4, Seq("date_id"))
    val joined = spark.table("w_bucketed").join(spark.table("e_bucketed"), Seq("date_id"))
    val physical = joined.queryExecution.executedPlan.toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert(!physical.contains("Exchange"),
      s"bucketed join should be exchange-free, got:\n$physical")
    assert(joined.count() > 0)
  }

  test("bucketed append: table grows linearly in files, stays exchange-free across appends") {
    val s = spark; import s.implicits._
    import graft.plans.PlanAudit
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 53, i * 1.0)).toDF("k", "v")
    Sinks.writeBucketed(batch(0, 400), "append_bucketed", 4, Seq("k"))
    Sinks.appendBucketed(batch(400, 800), "append_bucketed", 4, Seq("k"))
    Sinks.appendBucketed(batch(800, 1200), "append_bucketed", 4, Seq("k"))
    // every batch covers all 53 keys -> all 4 buckets; after base + 2
    // appends each bucket must hold exactly 3 files (one per batch),
    // never tasks-per-batch × buckets
    val bucketRe = "_(\\d{5})\\.".r
    val perBucket = Sinks.listTableDataFiles(spark, "append_bucketed")
      .flatMap(n => bucketRe.findFirstMatchIn(n).map(_.group(1)))
      .groupBy(identity).view.mapValues(_.size)
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 3),
      s"each bucket should hold one file per batch, got: ${perBucket.toMap}")
    // the grown table still aggregates AND self-joins without a shuffle
    val agg = spark.table("append_bucketed").groupBy("k").agg(sum("v").as("sv"))
    assert(PlanAudit.shuffleCount(agg) == 0, "per-key agg over grown table must not shuffle")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("append_bucketed")
        .join(agg.select(col("k"), col("sv")), Seq("k"))
      assert(PlanAudit.shuffleCount(joined) == 0, "join over grown table must not shuffle")
      assert(PlanAudit.hasSortMergeJoin(joined))
      // correctness across the appends: every batch counted exactly once
      assert(spark.table("append_bucketed").count() == 1200L)
      assert(agg.agg(sum("sv")).head().getDouble(0) == (0 until 1200).map(_.toDouble).sum)

      // COMPACTION (q305): one file-level rewrite restores one sorted
      // file per bucket, and with the ordering conf the SMJ then plans
      // without in-partition sorts — zero Sort AND zero Exchange
      val tablePath = Sinks.managedTableUri(spark, "append_bucketed").toString
      Sinks.writeBucketed(spark.read.parquet(tablePath),
        "append_bucketed_compacted", 4, Seq("k"))
      val compactFiles = Sinks.listTableDataFiles(spark, "append_bucketed_compacted").size
      assert(compactFiles == 4, s"compaction should leave one file per bucket, got $compactFiles")
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        // scan⋈scan: BOTH sides expose the restored per-bucket sort, so
        // the SMJ plans with zero Sort (an aggregate side would still
        // re-sort — aggregates don't emit ordered output)
        val cj = spark.table("append_bucketed_compacted")
          .join(spark.table("append_bucketed_compacted").hint("merge")
            .select(col("k"), col("v").as("v2")), Seq("k"))
        assert(PlanAudit.shuffleCount(cj) == 0)
        assert(PlanAudit.sortCount(cj) == 0,
          "compacted one-file-per-bucket scans must feed the SMJ pre-sorted")
        // 1200 rows over 53 keys self-join: sum of per-key count^2
        val expected = (0 until 1200).groupBy(_ % 53).values.map(g => g.size.toLong * g.size).sum
        assert(cj.count() == expected)
      } finally spark.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("Hadoop-FS census agrees with a direct listing; same-name compaction swap (q306 shape)") {
    val s = spark; import s.implicits._
    import graft.plans.PlanAudit
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 31, i * 1.0)).toDF("k", "v")
    Sinks.writeBucketed(batch(0, 300), "swap_bucketed", 4, Seq("k"))
    Sinks.appendBucketed(batch(300, 600), "swap_bucketed", 4, Seq("k"))
    // the census goes through Path.getFileSystem(...).listStatus — the
    // FS-agnostic API (r14 verdict item 1); on the local warehouse it
    // must agree exactly with a direct directory listing
    val viaHadoop = Sinks.listTableDataFiles(spark, "swap_bucketed").sorted
    import scala.jdk.CollectionConverters._
    val direct = {
      val ls = java.nio.file.Files.list(
        java.nio.file.Paths.get(Sinks.managedTableUri(spark, "swap_bucketed")))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet")).toSeq.sorted
      finally ls.close()
    }
    assert(viaHadoop == direct, s"census mismatch: $viaHadoop vs $direct")
    assert(viaHadoop.size == 8, s"base + append should land 2 files/bucket, got $viaHadoop")
    // compact aside, then swap under the SAME name: the managed rename
    // moves the directory, so the original name's census sees only the
    // compacted files and the old fragmented ones are gone
    spark.sql("DROP TABLE IF EXISTS swap_bucketed_new")
    Sinks.writeBucketed(
      spark.read.parquet(Sinks.managedTableUri(spark, "swap_bucketed").toString),
      "swap_bucketed_new", 4, Seq("k"))
    spark.sql("DROP TABLE swap_bucketed")
    spark.sql("ALTER TABLE swap_bucketed_new RENAME TO swap_bucketed")
    assert(Sinks.listTableDataFiles(spark, "swap_bucketed").size == 4)
    // the swapped-in table keeps its bucket spec under the ORIGINAL
    // name (exchange-free per-key agg) and no row was lost or doubled
    val agg = spark.table("swap_bucketed").groupBy("k").agg(sum("v").as("sv"))
    assert(PlanAudit.shuffleCount(agg) == 0, "swapped-in table lost its bucket spec")
    assert(spark.table("swap_bucketed").count() == 600L)
    assert(agg.agg(sum("sv")).head().getDouble(0) == (0 until 600).map(_.toDouble).sum)
  }

  test("persisted IVF index: postings side joins exchange-free with bucket pruning") {
    val s = spark; import s.implicits._
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(16)(j => math.sin(i * 0.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfIndex(spark, emb, "scale_ivf", nCentroids = 8, buckets = 8)
    val q = emb.filter(col("vec_id") < 2)
    val topk = graft.operators.Similarity.ivfTopKFromIndex(spark, "scale_ivf", q, k = 5, nProbe = 2)
    val plan = topk.queryExecution.executedPlan.toString
    // no index-build stage: the corpus-side NearestCells assignment and
    // its shuffle happened at write time, so the postings scan must not
    // re-shuffle on cell
    assert(!plan.contains("Exchange hashpartitioning(cell"),
      s"postings side must not shuffle on cell:\n${plan.take(3000)}")
    // bucket pruning: the literal probe-cell filter must select a
    // subset of the 8 buckets at planning time
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
    val m = sel.findFirstMatchIn(plan)
    assert(m.isDefined, s"expected bucket pruning evidence in:\n${plan.take(3000)}")
    assert(m.get.group(1).toInt < 8, "probe should scan a strict subset of buckets")
    // and the index answers: same results as the inline IVF path given
    // the same sampled-seed centroids
    val inline = graft.operators.Similarity
      .ivfTopK(spark, emb, q, k = 5, nCentroids = 8, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val fromIdx = topk.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(fromIdx == inline, s"index path diverged: $fromIdx vs $inline")
    assert(fromIdx.nonEmpty)
  }

  test("IVF probe size-dispatch: literal prune below the limit, plain-join fallback above, same results") {
    val s = spark; import s.implicits._
    val emb = (0L until 200L)
      .map(i => (i, Array.tabulate(16)(j => math.sin(i * 0.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfIndex(spark, emb, "scale_ivf_dsp", nCentroids = 8, buckets = 8)
    val q = emb.filter(col("vec_id") < 3)
    val pruned = graft.operators.Similarity
      .ivfTopKFromIndex(spark, "scale_ivf_dsp", q, k = 5, nProbe = 2)
    // pruneLimit = 0 forces the large-batch branch: no literal IN may be
    // planted on the postings scan, so no bucket pruning either
    val fallback = graft.operators.Similarity
      .ivfTopKFromIndex(spark, "scale_ivf_dsp", q, k = 5, nProbe = 2, pruneLimit = 0)
    val planP = pruned.queryExecution.executedPlan.toString
    val planF = fallback.queryExecution.executedPlan.toString
    // bucketed scans always report SelectedBucketsCount; pruning shows
    // as a strict subset, the fallback as the full 8-of-8 with no IN
    assert("SelectedBucketsCount: (\\d+) out of 8".r.findFirstMatchIn(planP)
      .exists(_.group(1).toInt < 8),
      s"small probe lost its literal bucket pruning:\n${planP.take(2000)}")
    assert(planF.contains("SelectedBucketsCount: 8 out of 8"),
      s"fallback branch must scan all buckets (no literal prune):\n${planF.take(2000)}")
    assert(!planF.contains("In(cell"),
      s"fallback branch must not build a literal IN:\n${planF.take(2000)}")
    // the fallback still pays no Exchange on the postings side: the
    // query side broadcasts in both branches
    assert(!planF.contains("Exchange hashpartitioning(cell"),
      s"fallback postings side must not shuffle on cell:\n${planF.take(2000)}")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(pruned) == rows(fallback), "dispatch branches diverged")
    assert(rows(pruned).nonEmpty)
  }

  test("IVF index append: new vectors searchable, bucket pruning intact, no re-cluster") {
    val s = spark; import s.implicits._
    val emb = (0L until 100L)
      .map(i => (i, Array.tabulate(16)(j => math.cos(i * 0.3 + j).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.writeIvfIndex(spark, emb, "scale_ivf_app", nCentroids = 4, buckets = 4)
    val before = spark.table("scale_ivf_app_centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    // new batch: an exact copy of vector 7 under a new id — it must be
    // assigned to 7's cell and become 7's top neighbor
    val newBatch = emb.filter(col("vec_id") === 7L)
      .select((col("vec_id") + 1000L).as("vec_id"), col("embedding"))
    graft.operators.Similarity.appendToIvfIndex(spark, newBatch, "scale_ivf_app")
    // centroids frozen: append never re-clusters
    val after = spark.table("scale_ivf_app_centroids").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    assert(after == before, "append must not retrain centroids")
    assert(spark.table("scale_ivf_app_postings").count() == 101)
    val q = emb.filter(col("vec_id") === 7L)
    val topk = graft.operators.Similarity
      .ivfTopKFromIndex(spark, "scale_ivf_app", q, k = 3, nProbe = 1)
    val top1 = topk.filter(col("rank") === 1).head()
    assert(top1.getLong(1) == 1007L && top1.getDouble(2) == 1.0,
      s"appended copy should be the exact-cosine top hit, got ${top1}")
    // bucket pruning still applies after the append
    val plan = topk.queryExecution.executedPlan.toString
    assert("SelectedBucketsCount: (\\d+) out of 4".r.findFirstMatchIn(plan)
      .exists(_.group(1).toInt < 4), s"bucket pruning lost after append:\n${plan.take(2000)}")
  }

  test("q110 IVF append lifecycle: guarantees hold on real testdata") {
    val rows = graft.queries.VectorQueries
      .q110IvfAppend(spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    val g = rows.head
    assert(g.getAs[Long]("pre_copies") == 0L,
      "no shifted-id copy may surface before the append")
    assert(g.getAs[Long]("copies_found") == 5L,
      s"every probe must find its appended exact copy at sim=1.0, got ${g}")
  }

  test("city-partitioned fact table prunes partitions on a city filter") {
    val fact = graft.sources.SyntheticData.weatherEnergy(spark, "2024-01-01", nDays = 20)
    val out = Scratch.dir("part").toString
    graft.operators.PipelineOps.writePartitioned(fact, out)
    val read = spark.read.parquet(out).filter(col("city") === "Chicago")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("Chicago"),
      s"expected partition pruning in:\n$plan")
    assert(read.count() == 20)
    // `date` is a data column: the dashboard's `date >= since` filter
    // must reach the parquet scan as a pushed filter
    val recent = spark.read.parquet(out).filter(col("date") >= lit("2024-01-11"))
    val scan = recent.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(date), GreaterThanOrEqual(date,2024-01-11)]"),
      s"expected the date filter pushed to the scan in:\n$scan")
    assert(recent.count() == 10 * graft.sources.SyntheticData.cities.size)
  }

  test("filter+projection reach the parquet scan (pushdown regression guard)") {
    val plan = graft.queries.CoreQueries
      .q02FilterProject(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(2000))
    // pruned read schema: only the 6 needed columns, not all 11
    assert(!plan.contains("l_tax"), "projection pruning regressed: l_tax read")
  }

  test("curation/window query plans keep pruning and pushdown (regression guard)") {
    // q58 must never read the corpus text column — its filter and
    // output need only (doc_id, lang, n_chars)
    val p58 = graft.queries.TextQueries2
      .q58WeightedSample(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!p58.contains("text"), "q58 column pruning regressed: text read")
    // q64's IN filter must reach the parquet scan
    val p64 = graft.queries.ExtendedQueries
      .q64RankSuite(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(p64.contains("In(event_type"), s"q64 pushdown regressed: ${p64.take(1500)}")
  }

  test("sketch chain evaluates once: no sketch expressions in Filter operators (regression guard)") {
    // (a) the operator's own empty-doc filter tests the token count, so
    // pushdown substitution cannot drag shingle/minhash evaluation into
    // a scan-level Filter — holds in any session, so it is checked with
    // generate-filter inference active (as in a session wired only by
    // spark.sql.extensions). Restore the previous value after: the
    // session is shared with every later spec.
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def filterLines(plan: String) = plan.split('\n').filter(_.contains("Filter"))
    val rules = "spark.sql.optimizer.excludedRules"
    val before = spark.conf.getOption(rules)
    spark.conf.unset(rules)
    try {
      val sigsPlan = graft.operators.Dedup.minhashSignatures(docs)
        .queryExecution.executedPlan.toString
      assert(!filterLines(sigsPlan).exists(l => l.contains("minhash") || l.contains("shingles")),
        s"sketch chain leaked into a Filter:\n${filterLines(sigsPlan).mkString("\n")}")
    } finally before.fold(spark.conf.unset(rules))(spark.conf.set(rules, _))
    // (b) under the engine conf (generate-filter inference excluded —
    // GraftSession), the candidate explode adds no inferred
    // sketch-evaluating filter either
    val candPlan = graft.operators.Dedup
      .minhashCandidates(graft.operators.Dedup.minhashSignatures(docs))
      .queryExecution.executedPlan.toString
    assert(!filterLines(candPlan).exists(l => l.contains("minhash") || l.contains("shingles")),
      s"inferred generate filter re-runs the sketch chain:\n${filterLines(candPlan).mkString("\n")}")
  }

  test("managed tables land under the fixture's warehouse, not <cwd>/spark-warehouse") {
    val s = spark; import s.implicits._
    val table = "fixture_wh_probe"
    Sinks.writeBucketed((0 until 20).toDF("k"), table, 2, Seq("k"))
    val loc = java.nio.file.Paths.get(spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table)).location)
    assert(loc.toRealPath().startsWith(SparkFixture.warehouse.toRealPath()), loc)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(sys.props("user.dir"), "spark-warehouse", table)))
    assert(spark.table(table).count() == 20)
  }

  test("salted join returns identical results to the plain join") {
    val s = spark; import s.implicits._
    // heavy skew: 90% of big rows share one key
    val big = (0 until 2000).map(i => (if (i < 1800) "hot" else s"k$i", i))
      .toDF("key", "payload")
    val small = Seq(("hot", 1.0), ("k1900", 2.0), ("absent", 3.0)).toDF("key", "dim")
    val plain = big.join(small, Seq("key")).agg(count(lit(1)), sum("payload"), sum("dim"))
      .collect().head
    val salted = graft.operators.SkewJoin.saltedEquiJoin(big, small, Seq("key"), salts = 8)
      .agg(count(lit(1)), sum("payload"), sum("dim")).collect().head
    assert(plain.getLong(0) == salted.getLong(0))
    assert(plain.getLong(1) == salted.getLong(1))
    assert(plain.getDouble(2) == salted.getDouble(2))
  }

  test("GraftExtensions wiring + native functions usable from SQL text") {
    // the fixture session is built once, through GraftSession, so
    // spark.sql.extensions alone must install every entry of the one
    // table, with no install call
    val missing = graft.plans.GraftExtensions.functions.map(_.name)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"native functions not installed: $missing")
    val r = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float))) AS s").collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    val sh = spark.sql("SELECT shingles(array('a','b','c','d'), 3) AS sh").collect().head
    assert(sh.getSeq[String](0) == Seq("a b c", "b c d"))
    val mh = spark.sql("SELECT minhash_sig(array('x','y'), 4) AS m").collect().head
    assert(mh.getSeq[Long](0).length == 4)
  }

  test("vec_sum aggregate equals explode-based element-wise sums, ignores NULL vectors") {
    val s = spark; import s.implicits._
    val rows = (0 until 90).map { i =>
      val v = if (i % 17 == 0) null
        else Array.tabulate(8)(j => (i * 31 + j * 7 % 13).toFloat / 10f)
      (i % 3, v)
    }
    val df = rows.toDF("g", "emb").repartition(4)
    val viaAgg = df.groupBy("g").agg(expr("vec_sum(emb)").as("s"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val viaExplode = df.filter(col("emb").isNotNull)
      .select(col("g"), posexplode(col("emb")).as(Seq("p", "x")))
      .groupBy("g", "p").agg(sum(col("x").cast("double")).as("sx"))
      .collect().groupBy(_.getInt(0))
      .map { case (g, rs) => g -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    viaAgg.foreach { case (g, got) =>
      got.zip(viaExplode(g)).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"group $g: $a vs $b")
      }
    }
    // all-NULL group evaluates to NULL, not a crash
    val allNull = Seq((1, null.asInstanceOf[Array[Float]])).toDF("g", "emb")
    assert(allNull.groupBy("g").agg(expr("vec_sum(emb)").as("s")).collect().head.isNullAt(1))
    // ragged lengths zero-extend to the longest vector, independent of
    // row order / partitioning (a short first vector must not truncate)
    val ragged = Seq(
      (1, Array(1f, 2f)), (1, Array(10f, 20f, 30f, 40f)), (1, Array(100f)))
    Seq(ragged, ragged.reverse).foreach { order =>
      val got = order.toDF("g", "emb").repartition(3)
        .groupBy("g").agg(expr("vec_sum(emb)").as("s"))
        .collect().head.getSeq[Double](1)
      assert(got == Seq(111.0, 22.0, 30.0, 40.0), s"order=$order got=$got")
    }
  }

  test("ORC is a first-class columnar format: round-trip, pushdown, partition pruning") {
    import graft.sources.Sinks
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Scratch.dir("orc").toString
    // nested array<float> round-trips bit-exact
    Sinks.writeFormatted(emb, s"$dir/emb", "orc")
    val embBack = Sinks.readFormatted(spark, s"$dir/emb", "orc")
    assert(embBack.schema("embedding").dataType == emb.schema("embedding").dataType)
    assert(embBack.count() == emb.count())
    val a = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val b = embBack.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(a == b, "ORC round-trip changed embedding values")
    // partitioned ORC: pruning + predicate pushdown reach the ORC scan
    Sinks.writeFormatted(docs, s"$dir/docs", "orc", partitionCols = Seq("lang"))
    val scan = Sinks.readFormatted(spark, s"$dir/docs", "orc")
      .filter(col("lang") === "en" && col("n_chars") > 500)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"ORC partition pruning missing: ${scan.take(1500)}")
    assert(scan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,500)]") ||
      scan.contains("GreaterThan(n_chars,500)"),
      s"ORC predicate pushdown missing: ${scan.take(1500)}")
  }

  test("text interchange formats round-trip through writeFormatted with a pinned schema") {
    import graft.sources.Sinks
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "n_chars") // no free text: csv-safe columns
    val dir = Scratch.dir("fmt").toString
    for (fmt <- Seq("json", "csv")) {
      Sinks.writeFormatted(docs, s"$dir/$fmt", fmt)
      val back = Sinks.readFormatted(spark, s"$dir/$fmt", fmt, Some(docs.schema))
      assert(back.schema == docs.schema, s"$fmt schema drift")
      val a = docs.collect().map(_.toSeq).toSet
      val b = back.collect().map(_.toSeq).toSet
      assert(a == b, s"$fmt round-trip changed values")
    }
  }

  test("heavy hitters: KPS sketch misses no exact heavy hitter") {
    val rows = graft.queries.TextQueries2.q86HeavyHitters(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty, "no heavy hitters found at support 0.02")
    assert(rows.head.getAs[Long]("n_missed") == 0L,
      "freqItems violated its no-false-negative contract")
    assert(rows.forall(_.getAs[Int]("in_sketch") == 1))
  }

  test("sketch audit: HLL and quantile sketch errors are bounded") {
    val rows = graft.queries.TextQueries2.q62SketchAudit(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("users_rel_err") <= 0.05,
        s"HLL err too large: $r")
      val exact = r.getAs[Double]("exact_p50")
      assert(r.getAs[Double]("p50_abs_err") <= math.max(0.05 * math.abs(exact), 1e-9),
        s"quantile sketch err too large: $r")
    }
  }
}
