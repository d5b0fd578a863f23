package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark itself: the generator is deterministic, the
  * oracle agrees with the program at a tiny size, and a wrong output
  * makes the check fail and count toward the error rate. */
class BenchSpec extends AnyFunSuite {

  private val base = Paths.get("target", "bench-spec").toAbsolutePath
  private lazy val spark = Main.session(base.resolve("session"))
  private def quiet(m: String): Unit = ()

  private def fresh(name: String): Path = {
    val p = base.resolve(name)
    Runner.deleteTree(p)
    Files.createDirectories(p)
  }

  private def runner(name: String, w: Workload, seed: Long = 7L): Runner =
    new Runner(spark, w, seed, new Recorder(spark.sparkContext, enabled = false), fresh(name), quiet)

  private def files(dir: Path): Seq[(String, Seq[Byte])] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  test("the same seed lands byte-identical raw files; another seed does not") {
    val w = Workload("gen", Vector(0, 4), 120)
    val a = fresh("gen-a"); val b = fresh("gen-b"); val c = fresh("gen-c")
    Gen.land(3L, w.cityIdxs, w.start, w.end, a)
    Gen.land(3L, w.cityIdxs, w.start, w.end, b)
    Gen.land(4L, w.cityIdxs, w.start, w.end, c)
    assert(files(a).nonEmpty)
    assert(files(a) == files(b))
    assert(files(a) != files(c))
  }

  test("every window of 29 days holds each semantic trap for every city") {
    val days = Gen.days(Workload.Today.minusDays(Gen.TrapPeriod.toLong), Workload.Today.minusDays(1))
    for (seed <- 1L to 5L; ci <- Gen.Cities.indices) {
      val ps = days.map(d => Gen.day(seed, ci, d))
      assert(ps.exists(_.noaa.isEmpty), "a day without NOAA readings")
      assert(ps.exists(_.eia.isEmpty), "a day without EIA records")
      assert(ps.exists(p => p.noaa.exists(_.datatype == "TMAX") && !p.noaa.exists(_.datatype == "TMIN")))
      assert(ps.exists(_.noaa.count(_.datatype == "TMAX") > 1), "a duplicate TMAX reading")
      assert(ps.exists(p => p.eia.nonEmpty && p.eia.forall(r => Oracle.parseValue(r.value).isEmpty)))
      assert(ps.exists(_.eia.exists(r => Oracle.parseValue(r.value).isEmpty)), "a malformed value")
      assert(ps.exists(_.noaa.exists(r => Oracle.cToF(r.value) > 130)), "a temperature outlier")
    }
  }

  test("an all-malformed EIA day is 0.0 and a day without records is NULL in the oracle") {
    val w = Workload("traps", Vector(2), 200)
    val fact = Oracle.fact(9L, w.cityIdxs, w.start, w.end)
    val byDay = w.cityIdxs.flatMap(ci => Gen.days(w.start, w.end).map(d => d -> Gen.day(9L, ci, d))).toMap
    fact.foreach { r =>
      val p = byDay(r.date)
      if (p.eia.isEmpty) assert(r.energy.isEmpty)
      else if (p.eia.forall(x => Oracle.parseValue(x.value).isEmpty)) assert(r.energy.contains(0.0))
    }
  }

  test("Student t 0.975 quantiles match published tables") {
    assert(math.abs(Oracle.studentT975(10) - 2.228138852) < 1e-6)
    assert(math.abs(Oracle.studentT975(30) - 2.042272456) < 1e-6)
    assert(math.abs(Oracle.studentT975(178) - 1.973381) < 1e-5)
  }

  test("at a tiny size the oracle agrees with the program on every output") {
    // two cities: a backfill, then two refresh-and-serve cycles through Pipeline.run
    val wide = runner("agree-wide", Workload("tiny-wide", Vector(1, 3), 35))
    wide.land(wide.rawDir, wide.w.start, wide.w.end)
    val out = wide.rawDir.resolveSibling("out")
    wide.runBackfill(out)
    wide.cycle(out, 1)
    wide.cycle(out, 2)
    wide.checkSinkContent()
    assert(wide.failures.isEmpty, wide.failures.mkString("\n"))
    assert(wide.attempted == 1 + 2 * (1 + Runner.Panels.size * Workload.Viewers) + 1)
    // one city
    val deep = runner("agree-deep", Workload("tiny-deep", Vector(0), 40))
    deep.land(deep.rawDir, deep.w.start, deep.w.end)
    val out2 = deep.rawDir.resolveSibling("out")
    deep.runBackfill(out2)
    deep.cycle(out2, 1)
    deep.checkSinkContent()
    assert(deep.failures.isEmpty, deep.failures.mkString("\n"))
  }

  test("a perturbed fact row fails the check and counts toward the error rate") {
    val r = runner("perturbed", Workload("tiny", Vector(0), 30))
    r.land(r.rawDir, r.w.start, r.w.end)
    val out = r.rawDir.resolveSibling("out")
    val report = r.backfill(out)
    assert(r.checkBackfill(out, report))
    val csv = Files.list(out.resolve(Runner.CsvDir)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".csv")).get
    val lines = Files.readAllLines(csv, StandardCharsets.UTF_8).asScala.toVector
    val cells = lines(3).split(",", -1)
    cells(2) = (cells(2).toDouble + 0.5).toString // temp_max_f of one row
    Files.write(csv, (lines.updated(3, cells.mkString(",")) :+ "").mkString("\n").getBytes(StandardCharsets.UTF_8))
    assert(!r.checkBackfill(out, report))
    assert(r.attempted == 2 && r.failed == 1)
  }

  test("a dropped sink partition fails the check and counts toward the error rate") {
    val r = runner("dropped", Workload("tiny", Vector(0), 30))
    r.land(r.rawDir, r.w.start, r.w.end)
    val out = r.rawDir.resolveSibling("out")
    r.runBackfill(out)
    assert(r.failed == 0)
    // remove one day's partition behind the program's back
    val day = r.w.start.plusDays(3).toString
    val victims = Files.walk(out.resolve(Runner.ParquetDir)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString == s"date=$day").toVector
    assert(victims.size == 1)
    victims.foreach(Runner.deleteTree)
    r.cycle(out, 1)
    r.checkSinkContent()
    assert(r.failed >= 1)
    assert(r.failures.exists(_.startsWith("parquet sink")))
  }
}
