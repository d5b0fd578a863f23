package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its registry name, its Spark builder over a
  * scale-factor directory, and the DuckDB SQL that must return the same
  * rows from the same parquet tables.
  *
  * To add a query, write its builder in a query module and add one
  * entry to that module's `specs`:
  * {{{
  * QuerySpec("q01_agg", q01Agg,
  *   """SELECT ...""".stripMargin)
  * }}}
  * The name is the only place the query is named; [[graft.SparkEntry]]
  * derives the driver's `queries` and `oracleSql` maps from the specs.
  * The oracle follows the column-alias and rounding conventions in the
  * [[CoreQueries]] Scaladoc, or the hashes will not match. */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)
