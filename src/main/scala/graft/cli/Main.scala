package graft.cli

import java.time.LocalDate
import graft.GraftSession
import graft.pipeline.Pipeline
import graft.sources.SyntheticData

/** CLI mirroring the reference's `python main.py {historical|realtime}`
  * (main.py:40-52). With no landed API payloads available (zero-egress
  * environment), `--synthetic` runs the pipeline over the deterministic
  * fixture generator; in production the raw zone would be populated by
  * [[graft.sources.Connectors]] and passed as `--raw-dir`. */
object Main {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption match {
      case Some("historical") => Pipeline.Historical
      case Some("realtime")   => Pipeline.Realtime
      case other =>
        System.err.println(s"usage: graft.cli.Main {historical|realtime} [outDir] (got: $other)")
        sys.exit(2)
    }
    val outDir = args.lift(1).getOrElse("target/graft_out")
    // config-driven EP1 (reference config/config.yaml, src/pipeline.py:16-17):
    // cities + quality thresholds come from YAML when provided
    val cfg = args.lift(2).orElse(sys.env.get("GRAFT_CONFIG"))
      .map(graft.config.PipelineConfig.fromFile)
      .getOrElse(graft.config.PipelineConfig.default)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_MASTER", "local[*]"),
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val today = sys.env.get("GRAFT_TODAY").map(LocalDate.parse).getOrElse(LocalDate.now())
    val (start, end) = Pipeline.dateWindow(mode, today)
    // synthetic raw payloads per configured city (stand-in for the
    // landed raw zone; production populates it via Connectors.landRaw)
    val raw = cfg.cities.map(_.name).map { city =>
      (city,
        SyntheticData.noaaRawJson(spark, start, daysBetween(start, end)),
        SyntheticData.eiaRawJson(spark, start, daysBetween(start, end)))
    }
    val report = Pipeline.run(spark, raw, mode, today, outDir, cfg)
    println(s"mode=$mode window=[$start, $end] rows=${report.row_count} " +
      s"outliers=${report.temp_outliers_count} negative=${report.negative_energy_count} " +
      s"latest=${report.latest_data_date} out=$outDir")
    spark.stop()
  }

  private def daysBetween(start: String, end: String): Int =
    java.time.temporal.ChronoUnit.DAYS.between(
      LocalDate.parse(start), LocalDate.parse(end)).toInt + 1
}
