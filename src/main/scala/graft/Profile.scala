package graft

import org.apache.spark.scheduler.SparkListener
import graft.queries.QuerySpec

/** Stage profiler (dev tool, not driver contract): runs named registry
  * queries under a stage listener so each Spark stage inside a query
  * shows up with its task run/CPU time, GC, shuffle bytes and name —
  * the attribution step the bench totals can't give. Builds through
  * [[GraftSession.local]] and warms up with [[Bench.warmUp]], the same
  * engine conf and warm-up as Bench, so numbers are comparable.
  *
  * Usage: java ... graft.Profile [sfDir] [q1,q2,...] */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val selected = SparkEntry.select(Some(args.lift(1).getOrElse("q175_weighted_quantiles")))
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // per-stage (name, tasks, executor run ms) — task-time attribution
    // survives concurrent broadcast jobs where wall times overlap
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val tm = Option(si.taskMetrics)
        val run = tm.map(_.executorRunTime).getOrElse(0L)
        val cpu = tm.map(_.executorCpuTime / 1000000L).getOrElse(0L)
        val gc = tm.map(_.jvmGCTime).getOrElse(0L)
        val fetch = tm.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L)
        val extra = f" gc=${gc / 1000.0}%.2f fetchWait=${fetch / 1000.0}%.2f" +
          f" shRead=${tm.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L) >> 20}M" +
          f" shWrite=${tm.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L) >> 20}M"
        done.add((si.stageId, extra + "  " + si.name.takeWhile(_ != '\n').take(60), si.numTasks, run, cpu))
      }
    })

    Bench.warmUp(spark, sfDir)
    selected.foreach { case QuerySpec(name, fn, _) =>
      // pass 1 = warm (JIT/codegen), pass 2 = measured with job breakdown
      val tw0 = System.nanoTime()
      fn(spark, sfDir).count()
      val warm = (System.nanoTime() - tw0) / 1e9
      Bench.releaseCached(spark)
      done.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Bench.releaseCached(spark)
      // give listener events a beat to drain
      Thread.sleep(300)
      println(f"== $name  cold=$warm%.2f s  warm=$dt%.2f s  ($n rows)")
      import scala.jdk.CollectionConverters._
      val byStage = done.asScala.toSeq.sortBy(_._1)
      byStage.filter(_._4 > 0).foreach { case (id, nm, nt, run, cpu) =>
        println(f"   stage $id%4d  run=${run / 1000.0}%8.3f s  cpu=${cpu / 1000.0}%8.3f s  tasks=$nt%3d  $nm")
      }
      val runSum = byStage.map(_._4).sum / 1000.0
      val cpuSum = byStage.map(_._5).sum / 1000.0
      println(f"   stages=${byStage.size}  task-run total $runSum%7.3f s  cpu total $cpuSum%7.3f s")
    }
    spark.stop()
  }
}
