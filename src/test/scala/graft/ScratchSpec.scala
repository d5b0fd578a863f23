package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps

/** Child-JVM body of the lifecycle test: makes a scratch directory,
  * writes a file into it, prints the root and exits normally. */
object ScratchChild {
  def main(args: Array[String]): Unit = {
    val d = Scratch.dir("child")
    Files.writeString(d.resolve("payload.txt"), "x")
    println(d.getParent)
  }
}

/** [[Scratch]] deletes its root at JVM exit, staged streaming sources
  * are built once per JVM, and the ordered landing sets the file
  * stream's admission order. */
class ScratchSpec extends AnyFunSuite with SparkFixture {

  test("a JVM's scratch root is gone once the JVM exits") {
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val child = new ProcessBuilder(javaBin, "-Xmx128m", "-cp", sys.props("java.class.path"),
      ScratchChild.getClass.getName.stripSuffix("$"))
      .redirectError(ProcessBuilder.Redirect.DISCARD).start()
    val out = new String(child.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
    assert(child.waitFor() == 0, s"child JVM failed: $out")
    val root = Paths.get(out.last.trim)
    assert(root.getFileName.toString.startsWith("graft_"), s"unexpected root $root")
    assert(!Files.exists(root), s"$root survived its JVM")
  }

  /** Spark jobs started by `body`, tagged with a job group and counted
    * once a marker job behind them has been seen by the listener. */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      val marker = s"$group-marker"
      sc.setJobGroup(marker, marker)
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains(marker), "listener never saw the marker job")
      groups.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("staging the same source twice returns the same directory and runs no job") {
    val s = spark; import s.implicits._
    val raw = Scratch.dir("stage_twice").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    (0 until 8).map(i => (i.toLong, new java.sql.Timestamp(base + i * 600000L), i.toLong % 3,
        "click", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(raw)
    val docs = Scratch.dir("stage_twice_docs").toString
    Seq((1L, "en", "some text"), (2L, "de", "etwas text")).toDF("doc_id", "lang", "text")
      .write.mode("overwrite").parquet(docs)
    val file = StreamingOps.partFiles(Paths.get(docs)).head.toString
    val stagers: Seq[(String, () => String)] = Seq(
      "sentinel" -> (() => StreamingOps.stageWithSentinel(s, raw)),
      "time-ordered" -> (() => StreamingOps.stageTimeOrderedWithSentinel(s, raw, chunks = 2)),
      "docs" -> (() => StreamingOps.stageDocsWithSentinel(s, docs)),
      "dir" -> (() => StreamingOps.stageDir(file)))
    stagers.foreach { case (name, stage) =>
      var first, second = ""
      val firstJobs = jobsOf(s"$name-first") { first = stage() }
      val secondJobs = jobsOf(s"$name-second") { second = stage() }
      if (name != "dir") assert(firstJobs > 0, s"$name: the first staging must write")
      assert(second == first, s"$name: a second staging must return the memoized directory")
      assert(secondJobs == 0, s"$name: a second staging ran $secondJobs job(s)")
    }
  }

  test("the ordered landing admits files oldest-mtime first, whatever their names") {
    val s = spark; import s.implicits._
    // landed as z, a, m: name order would admit 1, 2, 0
    val files = Seq(0L, 1L, 2L).flatMap { id =>
      val p = Scratch.dir("landing_part")
      Seq(id).toDF("id").coalesce(1).write.mode("overwrite").parquet(p.toString)
      StreamingOps.partFiles(p)
    }
    val dir = Scratch.dir("landing")
    StreamingOps.landInOrder(dir, files.zip(Seq("z.parquet", "a.parquet", "m.parquet")))
    val mtimes = Seq("z", "a", "m").map(n => Files.getLastModifiedTime(dir.resolve(s"$n.parquet")).toMillis)
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == 3 &&
      mtimes.last < System.currentTimeMillis(), s"mtimes $mtimes")
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val ckpt = Scratch.dir("landing_ckpt").toString
    s.readStream.schema("id LONG").option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select(col("id")).as[Long].collect().toSeq
        if (ids.nonEmpty) batches.add(ids)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    assert(batches.asScala.toSeq == Seq(Seq(0L), Seq(1L), Seq(2L)))
  }
}
