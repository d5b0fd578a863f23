package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (run through run.py):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json>
  *
  * One JVM, `local[4]`, one closed-loop client. Setup starts the
  * session, lands the raw zone and warms up; the timed part runs the
  * backfill phase, then serving cycles, for about `--seconds` seconds,
  * checking every output against the oracle. The result object and the
  * run's timing samples go to `--out`; with `--trace 1` the result holds
  * the per-layer metrics and the spans go to `<work>/trace.json`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workload.byName(opt("workload")).getOrElse(sys.error(s"unknown workload ${opt("workload")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val out = Paths.get(opt("out"))
    Runner.deleteTree(work)
    Files.createDirectories(work)
    val result = run(w, seed, seconds, traced, work)
    Files.write(out, Json.render(result).getBytes(StandardCharsets.UTF_8))
  }

  private def log(m: String): Unit = System.err.println(s"[perfbench] $m")

  def session(work: Path, cores: Int = 4): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: Path): Map[String, Any] = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val rec = new Recorder(spark.sparkContext, traced)
    val runner = new Runner(spark, w, seed, rec, work, log)
    try {
      // setup: land the raw zone three times (median), warm up once
      val landS = (0 until 3).map { _ =>
        Runner.deleteTree(runner.rawDir)
        runner.timed(rec.span("gen.land")(runner.land(runner.rawDir, w.start, w.end)))._2
      }
      val landed = runner.land(runner.rawDir, w.start, w.end)
      val rawFiles = landed.flatMap(_.files)
      // warm-up: the same calls on the same cities over a week, repeated
      // untimed, so timed operations do not pay for JIT and code generation
      val warm = new Runner(spark, Workload("warmup", w.cityIdxs, 7),
        seed, rec, work.resolve("warmup"), log)
      val (_, warmS) = runner.timed(rec.span("setup.warmup") {
        warm.land(warm.rawDir, warm.w.start, warm.w.end)
        for (i <- 1 to WarmupRounds) {
          warm.runBackfill(work.resolve("warmup/out"))
          warm.cycle(work.resolve("warmup/out"), i)
        }
      })
      Runner.deleteTree(work.resolve("warmup"))
      val setupS = sessionS + median(landS) + warmS

      // timed phases
      val outDir = work.resolve("out")
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var backfills = 0
      while (backfills < MinBackfills || (elapsed < seconds * BackfillShare && backfills < MaxBackfills)) {
        runner.runBackfill(outDir)
        backfills += 1
      }
      val backfillEnd = elapsed
      var cycles = 0
      while (cycles < MinCycles || (elapsed < seconds && cycles < MaxCycles)) {
        cycles += 1
        runner.cycle(outDir, cycles)
      }
      log(f"${w.name} seed=$seed: setup $setupS%.1f s (session $sessionS%.1f, warm-up $warmS%.1f); " +
        f"$backfills backfills in $backfillEnd%.1f s, $cycles cycles in ${elapsed - backfillEnd}%.1f s")
      runner.checkSinkContent()
      val explained = if (traced) runner.explain() else Map.empty[String, Double]

      val attempted = runner.attempted + warm.attempted
      val failed = runner.failed + warm.failed
      (runner.failures ++ warm.failures).foreach(f => log(s"failure: $f"))
      val s = runner.samples
      s.foreach { case (k, v) => log(s"samples $k: ${v.map(x => f"$x%.3f").mkString(" ")}") }
      def med(k: String) = s.get(k).map(v => median(v.toSeq)).getOrElse(Double.NaN)
      val q = s.getOrElse("query_ms", mutable.ArrayBuffer.empty[Double]).toSeq
      val (tail, tailPct) = tailPercentile(q)
      log(f"query.tail_ms is p$tailPct%.1f of ${q.size} panel samples")
      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("backfill_cpu_s", med("backfill_cpu_s"), "s"),
          ("serve_cpu_s", med("serve_cpu_s"), "s"))
        else {
          val spans = rec.finish()
          Files.write(work.resolve("trace.json"),
            Json.render(TraceJson.document(w, seed, spans, s.toMap.map { case (k, v) => k -> v.toSeq })).getBytes(StandardCharsets.UTF_8))
          Layers.metrics(spans, explained, s.toMap.map { case (k, v) => k -> v.toSeq }) ++ Seq(
            ("engine.peak_rss_mb", peakRssMb, "MB"),
            ("backfill.wall_s", med("backfill_s"), "s"),
            ("serve.wall_s", med("serve_s"), "s"),
            ("refresh.median_s", med("refresh_s"), "s"),
            ("load.median_s", med("load_s"), "s"),
            ("query.p50_ms", median(q), "ms"),
            ("query.samples", q.size.toDouble, "count"),
            ("query.tail_ms", tail, "ms"),
            ("query.tail_pct", tailPct, "%"),
            ("gen.land_s", median(landS), "s"),
            ("gen.raw_files", rawFiles.size.toDouble, "count"),
            ("gen.raw_bytes", rawFiles.map(Files.size).sum.toDouble, "bytes"),
            ("sources.files_in", rawFiles.size.toDouble, "count"),
            ("energy.rows_in", runner.eiaRecords.toDouble, "count"))
        }
      Map(
        "correct" -> (failed == 0 && metrics.forall(!_._2.isNaN)),
        "attempted" -> attempted,
        "failed" -> failed,
        // a metric without samples (its every operation failed) reads 0 in a run marked incorrect
        "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
          n -> mutable.LinkedHashMap[String, Any]("value" -> (if (v.isNaN) 0.0 else v), "unit" -> u) }: _*),
        // every timing sample of the run, for summarize.py; run.py prints the other keys
        "samples" -> mutable.LinkedHashMap(s.toSeq.sortBy(_._1): _*))
    } finally {
      rec.close()
      spark.stop()
    }
  }

  val WarmupRounds = 1
  val MinBackfills = 3
  val MaxBackfills = 6
  val BackfillShare = 0.5
  val MinCycles = 2
  val MaxCycles = 30

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, and
    * that percentile (as in: the value at sorted index n-11 is p%). */
  def tailPercentile(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (xs.maxOption.getOrElse(Double.NaN), 100.0)
    else {
      val s = xs.sorted
      val i = s.size - 11
      (s(i), 100.0 * (i + 1) / s.size)
    }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
