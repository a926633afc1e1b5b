package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, how it runs over a scale-factor
  * directory, and the oracle it is checked against. */
final case class Query(name: String, run: Query.Run, oracle: Oracle)

object Query {
  type Run = (SparkSession, String) => DataFrame
}

/** What a query's rows are compared with. */
sealed trait Oracle

object Oracle {

  /** DuckDB SQL that must return the query's rows over the same tables.
    * `sampled` holds ladder-scale variants (key → SQL) for where `sql`
    * is quadratic; several queries may carry the same variants. */
  final case class Sql(sql: String, sampled: Map[String, String] = Map.empty) extends Oracle

  /** No SQL oracle, and why. */
  final case class Reason(why: String) extends Oracle
}
