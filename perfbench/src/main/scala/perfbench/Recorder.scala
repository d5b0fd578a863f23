package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** A timed span around one call into a layer, or one Spark job. Times
  * are µs since the Unix epoch; `op` groups the spans of one benchmark
  * operation (one backfill, one refresh, one panel run). A job span
  * carries the Spark work the listener counted for that job. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startUs: Long, endUs: Long,
    kind: String, counters: Map[String, Long] = Map.empty, site: String = "")

/** Benchmark-side tracer. Spans are kept in memory and written out at
  * the end. When enabled it registers a `SparkListener` and tags every
  * job with the innermost open span through a local property. Each job
  * becomes a child span of that span, named after the layer its call
  * site belongs to, and carries its jobs, stages, tasks, executor run,
  * CPU and GC time, scheduler delay, shuffle and spill bytes, input
  * records and bytes, and output rows, bytes and files.
  *
  * When disabled, `span` only runs its body: untraced runs pay nothing. */
final class Recorder(sc: SparkContext, val enabled: Boolean) {
  import Recorder._

  private val clock0Us = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = clock0Us + System.nanoTime() / 1000

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private var currentOp = 0
  private var nextOp = 1

  private final class Job(val span: Int, val site: String, val startMs: Long) {
    val counters: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
    var endMs: Long = startMs
    def add(k: String, v: Long): Unit = synchronized { counters(k) += v }
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execJob = new ConcurrentHashMap[Long, Int]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val metricKind = new ConcurrentHashMap[Long, String]()
  private val accumUpdates = java.util.Collections.synchronizedList(
    new java.util.ArrayList[(Long, Long, Long)]()) // (execution, accumulator, value)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // call site: the SQL execution's program frame when there is one
      // (AQE submits stage jobs from pool threads), else the final
      // stage's name, "<api> at <File>.scala:<line>"
      val exec = prop("spark.sql.execution.id").map(_.toLong)
      val site = exec.flatMap(x => Option(execSite.get(x)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse(""))
      val job = new Job(prop(SpanProperty).map(_.toInt).getOrElse(0), site, e.time)
      jobs.put(e.jobId, job)
      exec.foreach(x => execJob.putIfAbsent(x, e.jobId))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      job.add("jobs", 1)
      job.add("stages", e.stageIds.size.toLong)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(jobs.get(stageJob.getOrDefault(e.stageId, -1))).foreach { job =>
        job.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          job.add("executor_run_ms", m.executorRunTime)
          job.add("executor_cpu_ns", m.executorCpuTime)
          job.add("gc_ms", m.jvmGCTime)
          val info = e.taskInfo
          if (info != null && info.finished) {
            val fetch = if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
            job.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - fetch))
          }
          job.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          job.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          job.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          job.add("input_records", m.inputMetrics.recordsRead)
          job.add("input_bytes", m.inputMetrics.bytesRead)
          job.add("output_records", m.outputMetrics.recordsWritten)
          job.add("output_bytes", m.outputMetrics.bytesWritten)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, programFrame(s.details).getOrElse(""))
        noteMetrics(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => noteMetrics(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (acc, v) => accumUpdates.add((d.executionId, acc, v)) }
      case _ =>
    }
  }

  /** Remember which accumulators carry the SQL metrics counted here. */
  private def noteMetrics(p: SparkPlanInfo): Unit = {
    val write = p.nodeName.contains("Write") || p.nodeName.contains("Insert") ||
      p.nodeName.contains("Command")
    p.metrics.foreach { m =>
      val kind = (m.name, write) match {
        case ("number of written files", _) => Some("files_written")
        case ("number of dynamic part", _) => Some("partitions_written")
        case ("number of output rows", true) => Some("rows_written")
        case ("number of files read", _) => Some("files_scanned")
        case _ => None
      }
      kind.foreach(k => metricKind.put(m.accumulatorId, k))
    }
    p.children.foreach(noteMetrics)
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span. A span opened at the root starts a new
    * operation. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      if (stack.isEmpty) { currentOp = nextOp; nextOp += 1 }
      val outer = sc.getLocalProperty(SpanProperty)
      val start = nowUs
      stack.push(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      try body
      finally {
        stack.pop()
        sc.setLocalProperty(SpanProperty, outer)
        spans += Span(id, name, parent, currentOp, start, nowUs, "call")
      }
    }

  /** Wait for the listener bus, then turn every job into a span with
    * its counters. Returns all spans, call spans first. */
  def finish(): Vector[Span] = {
    if (!enabled) return Vector.empty
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    accumUpdates.asScala.foreach { case (exec, acc, v) =>
      for (k <- Option(metricKind.get(acc)); j <- Option(execJob.get(exec)); job <- Option(jobs.get(j)))
        job.add(k, v)
    }
    accumUpdates.clear()
    val byId = spans.map(s => s.id -> s).toMap
    val js = jobs.asScala.toVector.sortBy(_._1).map { case (_, job) =>
      val parent = byId.get(job.span)
      val id = nextId
      nextId += 1
      Span(id, layerOfCallSite(job.site, parent.map(_.name).getOrElse("")), job.span,
        parent.map(_.op).getOrElse(0), job.startMs * 1000, job.endMs * 1000, "job", job.counters.toMap,
        job.site)
    }
    jobs.clear()
    spans.toVector ++ js
  }

  def close(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Recorder {
  val SpanProperty = "perfbench.span"

  /** The first caller frame outside Spark and the JVM libraries, as
    * `"<Object>.<method>"`, when it is in the program (`graft.*`). */
  def programFrame(stack: String): Option[String] = {
    val lib = Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.")
    stack.linesIterator.map(_.trim).find(f => f.nonEmpty && !lib.exists(f.startsWith))
      .filter(_.startsWith("graft."))
      .map { f =>
        val qualified = f.takeWhile(_ != '(')
        val method = qualified.split('.').last
        val obj = qualified.stripSuffix("." + method).split('.').last.stripSuffix("$")
        s"$obj.$method"
      }
  }

  /** Layer of a job from its call site: `"<Object>.<method>"` from
    * [[programFrame]] or a stage name `"<api> at <File>.scala:<line>"`.
    * Calls the table does not know take the enclosing span's name. */
  def layerOfCallSite(site: String, enclosing: String): String = {
    val obj =
      if (site.contains(" at ")) site.split(" at ").last.takeWhile(_ != '.')
      else site.takeWhile(_ != '.')
    val method = if (site.contains(" at ")) "" else site.dropWhile(_ != '.').drop(1)
    (obj, method) match {
      case ("PipelineOps", "writePartitioned") => "sink.parquet"
      case ("PipelineOps", "writeCsv") => "sink.csv"
      case ("QualityOps", "report") => "quality.report"
      case ("Pipeline", "run") => "pipeline.probe"
      case ("Sinks", _) => "load.listing"
      case ("WeatherOps", _) => "weather"
      case ("EnergyOps", _) => "energy"
      case _ => enclosing
    }
  }

  /** Self time of every span: at each instant the deepest spans open
    * at that instant share it equally, so concurrent jobs split their
    * overlap and the self times of one operation sum to its wall time.
    * A child is clipped to its parent's interval. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val byId = spans.map(s => s.id -> s).toMap
    val clipped = mutable.Map.empty[Int, (Long, Long, Int)] // id -> (start, end, depth)
    def resolve(s: Span): (Long, Long, Int) = clipped.getOrElseUpdate(s.id,
      byId.get(s.parent) match {
        case Some(p) =>
          val (ps, pe, pd) = resolve(p)
          val a = math.min(math.max(s.startUs, ps), pe)
          (a, math.max(a, math.min(s.endUs, pe)), pd + 1)
        case None => (s.startUs, s.endUs, 0)
      })
    spans.foreach(resolve)
    val out = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.groupBy(s => if (s.op > 0) s.op else -s.id).values.foreach { group =>
      val iv = group.map(s => (s.id, clipped(s.id)))
      val cuts = iv.flatMap { case (_, (a, b, _)) => Seq(a, b) }.distinct.sorted
      cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
        val open = iv.filter { case (_, (s, e, _)) => s <= a && e >= b }
        if (open.nonEmpty) {
          val deepest = open.map(_._2._3).max
          val owners = open.filter(_._2._3 == deepest)
          owners.foreach { case (id, _) => out(id) += (b - a).toDouble / owners.size }
        }
      }
    }
    spans.map(s => s.id -> math.round(out(s.id))).toMap
  }
}
