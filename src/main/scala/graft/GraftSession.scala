package graft

import org.apache.spark.sql.SparkSession

/** One place for the session shape all mains/tests share. */
object GraftSession {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.rules.GraftExtensions())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // older events.parquet generations carry ns-precision timestamps;
      // read those as long ns (µs TIMESTAMP generations are unaffected —
      // Tables.events normalizes both to µs longs)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // date-stem episode_ids (S6 fallback) are numeric-looking: type
      // inference would read the partition column back as INT and break
      // schema compliance + string joins downstream
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // managed tables (bucketed layouts) land in tmp, not the repo cwd
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")

  /** The local core count a session runs with: SPARK_GRAFT_CPUS, else
    * the machine's cores, at least 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    math.max(4, Runtime.getRuntime.availableProcessors()).toString)

  def create(): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
