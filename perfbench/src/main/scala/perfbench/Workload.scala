package perfbench

import java.time.LocalDate

/** A workload: the backfill's shape. Both workloads land the same
  * number of city-days, so the sink writes as many partitions and rows
  * on each; only the number of cities differs.
  *
  *   - `wide`: two cities over 90 days. The program builds one weather
  *     and one energy chain per city and unions them, so per-city plan
  *     and job fan-out is part of the work.
  *   - `deep`: one city over 180 days. It has no per-city fan-out, so a
  *     per-city optimisation should leave it unchanged.
  *
  * The backfill calls what `Pipeline.run` calls, with an explicit
  * window (Historical mode is fixed at 180 days): `Pipeline.build`,
  * then `QualityOps.report`, `PipelineOps.writePartitioned` and
  * `writeCsv`. After it, each serving cycle lands the next day
  * (untimed), refreshes the sinks with `Pipeline.run(Realtime)`, and
  * then a viewer opens the dashboard: `Sinks.readFormatted` loads the
  * parquet sink and the six panels run on it. */
final case class Workload(name: String, cityIdxs: Vector[Int], days: Int) {
  def end: LocalDate = Workload.Today.minusDays(1)
  def start: LocalDate = end.minusDays(days - 1L)
  def cityNames: Vector[String] = cityIdxs.map(Gen.Cities(_).name)
}

object Workload {

  /** The fixed `today` anchor: the reference's logged historical run
    * (2025-04-11 … 2025-10-07) was made on this day. */
  val Today: LocalDate = LocalDate.parse("2025-10-08")

  /** Viewers who open the dashboard after each refresh, one after another. */
  val Viewers = 1

  /** Panels look at this many trailing days (the reference dashboard's cap). */
  val PanelDays = 90

  val all: Vector[Workload] = Vector(
    Workload("wide", Vector(0, 1), 90),
    Workload("deep", Vector(0), 180))

  def byName(n: String): Option[Workload] = all.find(_.name == n)
}
