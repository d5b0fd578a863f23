package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guards against regrowth of the session builders, function and rule
  * installs, query maps, config parsers, quality thresholds, engine
  * conf readers, prefix-sum kernels, streaming-drain knobs, temp
  * directories and staging memos this code base once had many copies
  * of: each may appear only in its one home. */
class SingleHomeSpec extends AnyFunSuite {

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found from ${sys.props("user.dir")}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq finally files.close()
  }

  /** Files under `dir` that contain `token`. */
  private def holders(dir: String, token: String): Seq[String] =
    sources(dir).filter(p => Files.readString(p).contains(token)).map(_.toString).sorted

  test("SparkSession.builder appears in src/main only in GraftSession.scala") {
    assert(holders("src/main/scala", "SparkSession.builder") ==
      Seq("src/main/scala/graft/GraftSession.scala"))
  }

  test("native functions are installed only by the function table") {
    val table = Seq("src/main/scala/graft/plans/GraftExtensions.scala")
    assert(holders("src/main/scala", "injectFunction") == table)
    assert(holders("src/main/scala", "createOrReplaceTempFunction").isEmpty)
  }

  test("optimizer rules are injected only by GraftExtensions") {
    assert(holders("src/main/scala", "extraOptimizations").isEmpty)
    assert(holders("src/main/scala", "injectOptimizerRule") ==
      Seq("src/main/scala/graft/plans/GraftExtensions.scala"))
  }

  test("query modules declare specs, not separate queries and oracles maps") {
    val twoMaps = """\bval\s+(queries|oracles)\s*(:\s*Map\b|=\s*Map\s*\()""".r
    val modules = sources("src/main/scala/graft/queries")
    assert(modules.size >= 18)
    assert(modules.filter(p => twoMaps.findFirstIn(Files.readString(p)).nonEmpty).isEmpty)
  }

  test("one YAML parser and one home for the quality thresholds") {
    Seq("MiniYaml", "DefaultTempMaxF", "DefaultTempMinF").foreach { name =>
      assert(holders("src/main/scala", name).isEmpty, name)
    }
  }

  test("the local engine conf is read only by GraftSession (and the CLI's master)") {
    assert(holders("src/main/scala", "SPARK_GRAFT_CPUS") ==
      Seq("src/main/scala/graft/GraftSession.scala", "src/main/scala/graft/cli/Main.scala"))
  }

  test("the two-phase prefix composition lives only in Spine") {
    Seq("HistBuckets", "WqBuckets").foreach { name =>
      assert(holders("src/main/scala", name).isEmpty, name)
    }
    assert(holders("src/main/scala", "def bucketOf") ==
      Seq("src/main/scala/graft/operators/Spine.scala"))
  }

  test("the plan-audit switch is read only by Pin") {
    assert(holders("src/main/scala", "SPARK_GRAFT_NO_CHECKPOINT") ==
      Seq("src/main/scala/graft/plans/Pin.scala"))
  }

  test("env is read only by the mains; no system properties or query listeners") {
    val mains = Set("GraftSession.scala", "plans/Pin.scala", "Bench.scala", "Verify.scala",
      "cli/Main.scala").map("src/main/scala/graft/" + _)
    assert(holders("src/main/scala", "sys.env").filterNot(mains).isEmpty)
    assert(holders("src/main/scala", "sys.props.get").isEmpty)
    assert(holders("src/main/scala", "StreamingQueryListener").isEmpty)
  }

  test("temp directories come only from Scratch, and the stagers share one memo") {
    def found(token: String) = (holders("src/main/scala", token) ++
      holders("src/test/scala", token)).filterNot(_ == "src/test/scala/graft/SingleHomeSpec.scala")
    Seq("createTempDirectory", "createTempFile", "java.io.tmpdir").foreach { token =>
      assert(found(token).forall(_ == "src/main/scala/graft/Scratch.scala"), token)
    }
    Seq("sentinelCache", "timeOrderedCache", "docsSentinelCache").foreach { name =>
      assert(found(name).isEmpty, name)
    }
  }

  test("no spec builds its own session: all go through SparkFixture") {
    val self = "src/test/scala/graft/SingleHomeSpec.scala"
    assert(holders("src/test/scala", "SparkSession.builder").filterNot(_ == self).isEmpty)
  }
}
