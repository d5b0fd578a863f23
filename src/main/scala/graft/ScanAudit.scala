package graft

/** Dev tool: scan-count audit over every declared query (AQE off so
  * exchange reuse is visible statically). Flags plans that read a
  * parquet table ≥3 times — each hit is either justified (cache-backed
  * sketch pipelines, self-evidencing exact baselines, two-sided joins)
  * or a candidate for the single-explode restructure applied to
  * q51/q91/q97 (see OPERATORS.md scan-count audit notes).
  *
  * Usage: java ... graft.ScanAudit [sfDir] [minScans] */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minScans = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local().getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
        val scans = "Scan parquet".r.findAllIn(p).length
        val reused = "ReusedExchange".r.findAllIn(p).length
        if (scans >= minScans) println(f"$name%-28s scans=$scans reused=$reused")
      } catch {
        case e: Throwable => println(f"$name%-28s ERROR ${e.getMessage.take(60)}")
      }
    }
    spark.stop()
  }
}
