package perfbench

import scala.collection.mutable

/** Per-layer metrics from a traced run's spans. Each is the median, over
  * the operations of one kind (backfill, refresh, load, panel), of that
  * operation's value: a layer's self time summed over its spans, or a
  * listener counter summed over the jobs under it. */
object Layers {

  def metrics(spans: Vector[Span], explained: Map[String, Double],
      samples: Map[String, Seq[Double]]): Seq[(String, Double, String)] = {
    val self = Recorder.selfTimes(spans)
    val byId = spans.map(s => s.id -> s).toMap
    val ops: Map[String, Vector[Vector[Span]]] = spans.filter(_.op > 0).groupBy(_.op).values.toVector
      .flatMap { ss => ss.find(s => s.parent == 0 && s.kind == "call").map(root => (root.name, ss)) }
      .groupMap(_._1)(_._2)
    def root(ss: Vector[Span]): Span = ss.find(s => s.parent == 0 && s.kind == "call").get
    def selfS(ss: Vector[Span], names: String*): Double =
      ss.filter(s => names.contains(s.name)).map(s => self(s.id)).sum / 1e6
    def counter(ss: Vector[Span], key: String, keep: Span => Boolean = _ => true): Double =
      ss.filter(s => s.kind == "job" && keep(s)).map(_.counters.getOrElse(key, 0L)).sum.toDouble
    def under(name: String)(s: Span): Boolean = byId.get(s.parent).exists(_.name == name)
    def named(name: String)(s: Span): Boolean = s.name == name
    def per(kind: String)(f: Vector[Span] => Double): Double =
      med(ops.getOrElse(kind, Vector.empty).map(f))
    def perPanel(f: Vector[Span] => Double): Double =
      med(ops.filter(_._1.startsWith("query.")).values.flatten.toVector.map(f))
    def wall(ss: Vector[Span]): Double = { val r = root(ss); (r.endUs - r.startUs) / 1e6 }

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    def put(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    // backfill
    put("sources.raw_read_s", per("backfill")(selfS(_, "sources.raw_read")), "s")
    put("pipeline.between_jobs_s", per("backfill")(selfS(_, "pipeline.run", "pipeline.build", "pipeline.probe")), "s")
    put("pipeline.jobs", per("backfill")(counter(_, "jobs")), "count")
    put("pipeline.stages", per("backfill")(counter(_, "stages")), "count")
    put("pipeline.tasks", per("backfill")(counter(_, "tasks")), "count")
    put("quality.report_s", per("backfill")(selfS(_, "quality.report")), "s")
    put("quality.jobs", per("backfill")(counter(_, "jobs", named("quality.report"))), "count")
    put("sink.parquet_s", per("backfill")(selfS(_, "sink.parquet")), "s")
    put("sink.csv_s", per("backfill")(selfS(_, "sink.csv")), "s")
    put("sink.files_written", per("backfill")(counter(_, "files_written", named("sink.parquet"))), "count")
    put("sink.partitions_written", per("backfill")(counter(_, "partitions_written", named("sink.parquet"))), "count")
    put("sink.bytes_written", per("backfill")(counter(_, "output_bytes", named("sink.parquet"))), "bytes")
    put("sink.rows_per_file", per("backfill") { ss =>
      val f = counter(ss, "files_written", named("sink.parquet"))
      if (f == 0) 0.0 else counter(ss, "rows_written", named("sink.parquet")) / f
    }, "rows")
    put("engine.executor_run_s", per("backfill")(counter(_, "executor_run_ms") / 1e3), "s")
    put("engine.executor_cpu_s", per("backfill")(counter(_, "executor_cpu_ns") / 1e9), "s")
    put("engine.gc_s", per("backfill")(counter(_, "gc_ms") / 1e3), "s")
    put("engine.sched_delay_s", per("backfill")(counter(_, "sched_delay_ms") / 1e3), "s")
    put("engine.busy_frac", per("backfill")(ss => counter(ss, "executor_run_ms") / 1e3 / (Cores * wall(ss))), "ratio")
    put("engine.tasks_per_job", per("backfill") { ss =>
      val j = counter(ss, "jobs"); if (j == 0) 0.0 else counter(ss, "tasks") / j
    }, "count")
    put("engine.shuffle_read_bytes", per("backfill")(counter(_, "shuffle_read_bytes")), "bytes")
    put("engine.shuffle_write_bytes", per("backfill")(counter(_, "shuffle_write_bytes")), "bytes")
    put("engine.spill_bytes", per("backfill")(counter(_, "spill_bytes")), "bytes")

    // build and plan on their own, and each side of the join
    Seq("pipeline.build_s" -> "s", "pipeline.plan_s" -> "s", "pipeline.plan_exchanges" -> "count",
      "pipeline.plan_nodes" -> "count", "weather.exec_s" -> "s", "weather.rows_out" -> "count",
      "energy.exec_s" -> "s", "energy.rows_out" -> "count", "join.rows_out" -> "count",
      "join.exec_s" -> "s", "join.rows_lost" -> "count", "sources.raw_scan_s" -> "s").foreach { case (n, u) =>
      put(n, explained.getOrElse(n, 0.0), u)
    }
    put("pipeline.build_jobs", per("explain")(counter(_, "jobs", under("pipeline.build"))), "count")
    put("sources.records_in", per("explain")(counter(_, "input_records", under("sources.raw_scan"))), "count")
    put("sources.bytes_in", per("explain")(counter(_, "input_bytes", under("sources.raw_scan"))), "bytes")

    // serving
    put("refresh.jobs", per("refresh")(counter(_, "jobs")), "count")
    put("refresh.sink_parquet_s", per("refresh")(selfS(_, "sink.parquet")), "s")
    put("load.files_listed", med(samples.getOrElse("load.files_listed", Nil)), "count")
    put("load.listing_jobs", per("load")(counter(_, "jobs")), "count")
    put("load.tasks", per("load")(counter(_, "tasks")), "count")
    put("query.jobs", perPanel(counter(_, "jobs")), "count")
    put("query.files_scanned", perPanel(counter(_, "files_scanned")), "count")
    Runner.Panels.foreach { p =>
      put(s"query.${p.name}_ms", med(samples.getOrElse(s"query.${p.name}_ms", Nil)), "ms")
    }
    out.toSeq
  }

  val Cores = 4

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)
}
