package graft

import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** The one session builder. Every main and every spec builds through
  * it, so they all plan under the same engine conf and all get the
  * native functions of [[GraftExtensions.functions]].
  *
  * A session built elsewhere (spark-submit, a notebook, another
  * library) gets the functions with one static conf, set before its
  * first session starts:
  *
  * {{{
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  *
  * It should also run in UTC (`spark.sql.session.timeZone`): the
  * oracle hashes assume it. */
object GraftSession {

  /** Engine conf on `master` with `shufflePartitions` shuffle
    * partitions; callers add their own confs and call `getOrCreate`. */
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // InferFiltersFromGenerate adds isnotnull/size>0 above every
      // explode; predicate pushdown then substitutes the generator
      // input's DEFINING EXPRESSION into a scan-level Filter, so for
      // the sketch queries the full tokenize→shingle→minhash chain
      // would run once in the Filter and again in the Project. Every
      // exploded array in this engine is built in-plan and never null,
      // so the inference is pure per-row overhead (measured ~35% extra
      // on the sketch-explode stage).
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** [[builder]] on the local engine conf every main but the CLI shares:
    * `local[N]`, N = `SPARK_GRAFT_CPUS` (default 32), with
    * `SPARK_GRAFT_SHUFFLE` shuffle partitions (default N). */
  def local(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // scale-experiment knob (official runs leave it unset): decouple shuffle
    // partition COUNT from thread count, so a derived-sf run can hold
    // per-partition work constant (a cluster sizes partitions with the
    // data; local mode pins both to 32 by default)
    builder(s"local[$cpus]", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", cpus))
  }
}
