package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EventQueries, Registry}

/** Driver contract: the flagship `entry` query plus the name-keyed maps
  * external drivers read, all derived from [[graft.queries.Registry]]. */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    EventQueries.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = Registry.oracleSql

  /** O(k)-sampled oracles for the ladder scale factors where the full
    * q22/q87/q113 DuckDB oracles are quadratic SQL; see
    * [[graft.queries.DedupQueries.jaccardSampledSql]] and
    * [[graft.queries.DedupQueries.crossCorpusSampledSql]]. */
  def sampledOracleSql: Map[String, String] = Registry.sampledOracleSql
}
