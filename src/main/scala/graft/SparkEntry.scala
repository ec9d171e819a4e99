package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in graft.operators.Registry (one `Q` per operator
  * surface, Spark impl + DuckDB oracle defined side by side).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  /** A query selection as given on a command line or in an env var: names
    * separated by commas or spaces, spread over any number of arguments.
    * Fails with every name that is not registered, so a misspelled name
    * cannot silently shrink a run.
    */
  def queryNames(args: Seq[String]): Set[String] = {
    val names = args.flatMap(_.split("[,\\s]+")).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. As of round 2 every registered query has
    * one (portable hash families / byte arithmetic / asserted error
    * bounds replaced the former rows-only checks).
    */
  def oracleSql: Map[String, String] =
    Registry.all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
