package perfbench

import scala.collection.mutable

/** The traced run's record: every span with its counters, and the raw
  * timing samples of the run. */
object TraceJson {
  def document(w: Workload, seed: Long, spans: Seq[Span],
      samples: Map[String, Seq[Double]]): Map[String, Any] = {
    val self = Recorder.selfTimes(spans)
    mutable.LinkedHashMap(
      "workload" -> w.name,
      "seed" -> seed,
      "cities" -> w.cityNames,
      "window" -> Seq(w.start.toString, w.end.toString),
      "samples" -> mutable.LinkedHashMap(samples.toSeq.sortBy(_._1): _*),
      "spans" -> spans.map { s =>
        mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
          "site" -> s.site, "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id),
          "counters" -> mutable.LinkedHashMap(s.counters.toSeq.sortBy(_._1): _*))
      }).toMap
  }
}
