package graft

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one test session. Every spec mixes this in.
  *
  * Specs share one forked JVM, and `getOrCreate` hands every later
  * builder the first session, silently dropping its static confs
  * (warehouse, extensions). So the session is built once, here,
  * through [[GraftSession]]. */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
}

object SparkFixture {

  /** The JVM's one warehouse: every spec's managed tables land here,
    * not in `<cwd>/spark-warehouse`. Deleted with the scratch root when
    * the JVM exits. */
  lazy val warehouse: Path = Scratch.dir("wh")

  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "4")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    // fail fast if getOrCreate handed back a session some other
    // builder made first: it would lack the native functions
    val ext = classOf[GraftExtensions].getName
    val got = s.conf.getOption("spark.sql.extensions").getOrElse("")
    require(got.split(',').map(_.trim).contains(ext),
      s"shared test session has spark.sql.extensions='$got', not $ext: " +
        "a session was built before the fixture's")
    s
  }
}
