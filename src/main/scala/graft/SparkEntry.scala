package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, BehaviorQueries, CoreQueries, CorpusQueries, ExtendedQueries, MiningQueries, MixQueries, ProfileQueries, QuerySpec, RevenueQueries, ScaleQueries, SegmentQueries, SignalQueries, StatQueries, SupplyQueries, TextQueries, TextQueries2, VectorQueries, WebQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory (SURVEY.md §2 plus the
  * LLM-data-pipeline extensions), each runnable against a testdata
  * scale-factor directory; `oracleSql` holds the DuckDB-equivalent SQL
  * for every query. Column names and rounding are kept identical
  * between the two sides (see CoreQueries scaladoc).
  *
  * Both maps are views of one table, the query modules' `specs`. To add
  * a query, add one [[QuerySpec]] entry to a module's `specs`; a module
  * that is new also joins the concatenation in `specs` below.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core query shape: inner equi-join + aggregate
    * (SURVEY §2.3 J1, src/pipeline.py:86). */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q03JoinAgg(spark, "/root/testdata/sf0.001")

  /** Every declared query with its oracle, keyed by name. */
  lazy val specs: Map[String, QuerySpec] = byName(
    CoreQueries.specs ++ TextQueries.specs ++ TextQueries2.specs ++
      VectorQueries.specs ++ AnalyticsQueries.specs ++ ExtendedQueries.specs ++
      CorpusQueries.specs ++ ScaleQueries.specs ++ BehaviorQueries.specs ++
      ProfileQueries.specs ++ SignalQueries.specs ++ StatQueries.specs ++
      SegmentQueries.specs ++ SupplyQueries.specs ++ MiningQueries.specs ++
      RevenueQueries.specs ++ MixQueries.specs ++ WebQueries.specs)

  /** Keys `specs` by name; a name declared twice is an error, not a
    * silent overwrite. */
  private[graft] def byName(specs: Seq[QuerySpec]): Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    specs.map(s => s.name -> s).toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map { case (n, s) => n -> s.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    specs.map { case (n, s) => n -> s.oracleSql }

  /** The specs named in `only` (comma-separated), or all of them when
    * it is absent, in name order. Throws before anything runs if a
    * name is not declared or none is given, so a misspelt filter
    * cannot select nothing and pass vacuously. */
  def select(only: Option[String]): Seq[QuerySpec] = {
    val names = only.fold(specs.keys.toSeq)(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val unknown = names.filterNot(specs.contains).distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no query names in filter '${only.getOrElse("")}'")
    names.distinct.sorted.map(specs)
  }
}
