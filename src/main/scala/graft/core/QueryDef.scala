package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate-checked query: a Spark builder plus (when SQL-expressible) an
  * equivalent DuckDB oracle. Collected by [[graft.SparkEntry]]. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, build, Some(oracle))
}
