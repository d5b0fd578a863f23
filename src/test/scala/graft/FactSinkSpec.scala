package graft

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.PipelineOps
import graft.pipeline.Pipeline
import graft.sources.SyntheticData

/** The parquet fact sink holds one file per city and takes the daily
  * refresh as a (date, city) upsert: history survives, a re-run day is
  * replaced in place, and untouched cities' files are not rewritten
  * (SURVEY §7.4 trap 7). */
class FactSinkSpec extends AnyFunSuite with SparkFixture {

  private val cols = Seq("date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")

  /** Payloads for 2024-03-01 .. 2024-03-06, one seed per city. */
  private def raw(eiaSeed: Long = 42L): Seq[(String, DataFrame, DataFrame)] = Seq(
    ("CityA", SyntheticData.noaaRawJson(spark, "2024-03-01", 6, seed = 1L),
      SyntheticData.eiaRawJson(spark, "2024-03-01", 6, seed = eiaSeed)),
    ("CityB", SyntheticData.noaaRawJson(spark, "2024-03-01", 6, seed = 2L),
      SyntheticData.eiaRawJson(spark, "2024-03-01", 6, seed = 7L)))

  /** Backfill 2024-03-01 .. 2024-03-05 into a new sink; its directory. */
  private def backfill(): String = {
    val sink = Scratch.dir("sink").resolve("weather_energy_parquet").toString
    PipelineOps.writePartitioned(Pipeline.build(spark, raw(), "2024-03-01", "2024-03-05"), sink)
    sink
  }

  /** The daily run for 2024-03-06 into the directory holding `sink`. */
  private def refresh(sink: String, rawByCity: Seq[(String, DataFrame, DataFrame)]): Unit = {
    val out = Paths.get(sink).getParent.toString
    Pipeline.run(spark, rawByCity, Pipeline.Realtime, LocalDate.parse("2024-03-07"), out)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** Part files per city directory, by name. */
  private def partFiles(sink: String): Map[String, Seq[Path]] =
    Files.list(Paths.get(sink)).iterator().asScala.filter(Files.isDirectory(_)).map { d =>
      d.getFileName.toString -> Files.list(d).iterator().asScala
        .filter { f => val n = f.getFileName.toString; n.startsWith("part-") && n.endsWith(".parquet") }
        .toSeq
    }.toMap

  private def assertOneFilePerCity(sink: String): Unit = {
    val files = partFiles(sink)
    assert(files.keySet == Set("city=CityA", "city=CityB"), files)
    assert(files.values.forall(_.size == 1), files)
  }

  test("a daily refresh keeps every earlier (date, city) row and adds the new day") {
    val sink = backfill()
    assertOneFilePerCity(sink)
    val history = rows(Pipeline.build(spark, raw(), "2024-03-01", "2024-03-05"))
    assert(rows(spark.read.parquet(sink)) == history)
    refresh(sink, raw())
    assertOneFilePerCity(sink)
    val day = rows(Pipeline.build(spark, raw(), "2024-03-06", "2024-03-06"))
    assert(day.size == 2)
    assert(rows(spark.read.parquet(sink)) == (history ++ day).sorted)
  }

  test("re-running a day with changed EIA values replaces that row in place") {
    val sink = backfill()
    refresh(sink, raw())
    val before = spark.read.parquet(sink).select(cols.map(col): _*).collect()
    refresh(sink, raw(eiaSeed = 99L))
    assertOneFilePerCity(sink)
    val after = spark.read.parquet(sink).select(cols.map(col): _*).collect()
    assert(after.length == before.length)
    assert(after.map(r => (r.getDate(0), r.getString(1))).distinct.length == after.length,
      "duplicate (date, city) rows")
    def energy(rs: Array[Row], city: String) = rs
      .find(r => r.getDate(0).toString == "2024-03-06" && r.getString(1) == city).get.get(5)
    assert(energy(after, "CityA") != energy(before, "CityA"))
    assert(energy(after, "CityA") ==
      Pipeline.build(spark, raw(eiaSeed = 99L), "2024-03-06", "2024-03-06")
        .filter(col("city") === "CityA").head().get(5))
    // every other row, CityB's new day included, is unchanged
    val changed = (r: Row) =>
      r.getDate(0).toString == "2024-03-06" && r.getString(1) == "CityA"
    assert(after.filterNot(changed).map(_.toString).sorted.toSeq ==
      before.filterNot(changed).map(_.toString).sorted.toSeq)
  }

  test("a refresh of one city leaves the other city's file as it was") {
    val sink = backfill()
    val before = partFiles(sink)
    val bBytes = Files.readAllBytes(before("city=CityB").head)
    refresh(sink, raw().filter(_._1 == "CityA"))
    assertOneFilePerCity(sink)
    val after = partFiles(sink)
    assert(after("city=CityB") == before("city=CityB"))
    assert(Files.readAllBytes(after("city=CityB").head).sameElements(bBytes))
    assert(after("city=CityA") != before("city=CityA"))
    val sunk = spark.read.parquet(sink)
    assert(sunk.filter(col("city") === "CityA").count() == 6)
    assert(sunk.filter(col("city") === "CityB").count() == 5)
  }

  test("a sink in the (city, date) layout is refused before anything is written") {
    val fact = Pipeline.build(spark, raw(), "2024-03-01", "2024-03-05")
    val sink = Scratch.dir("legacy").resolve("weather_energy_parquet").toString
    fact.write.partitionBy("city", "date").parquet(sink)
    val tree = Files.walk(Paths.get(sink)).iterator().asScala.map(_.toString).toSet
    val e = intercept[IllegalStateException](PipelineOps.writePartitioned(fact, sink))
    assert(e.getMessage.contains(sink) && e.getMessage.contains("backfill"), e.getMessage)
    assert(Files.walk(Paths.get(sink)).iterator().asScala.map(_.toString).toSet == tree)
  }
}
