package graft
import java.nio.file.{Files, Paths}
import graft.queries.QuerySpec
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // local-iteration filter (comma-separated query names); the driver
    // never sets it, so its runs always dump the full declared suite
    val selected = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case QuerySpec(name, run, _) =>
      try run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full declared-query manifest: lets the compare step FAIL queries
    // whose runtime error meant no output dir was ever written (instead
    // of silently skipping them and reporting a false green)
    Files.writeString(Paths.get(s"$outDir/declared.json"),
      selected.map(q => Bench.jsonString(q.name)).mkString("[", ",", "]"))
    spark.stop()
  }
}
