package graft.tools

import org.apache.spark.sql.SparkSession

/** Per-query latency and plan: runs each named driver-contract query
  * [[Runs]] times in one warm JVM and prints the executed plan of the
  * first run, then wall time and row count per run. The plan is read
  * after that run completes, so it is the final adaptive plan (the
  * pruned scans, broadcast sides and shuffle keys AQE settled on). The
  * repeated runs separate steady-state latency from the JIT noise of a
  * one-shot bench number.
  *
  * Usage: runMain graft.tools.Profile <sfDir> <queryName>...
  */
object Profile {
  val Runs = 5

  final case class Run(ms: Double, rows: Long)

  /** The executed plan of the first run, and every run's wall time and
    * row count. An unknown name throws, listing the known ones. */
  def profile(spark: SparkSession, sfDir: String, query: String): (String, Seq[Run]) = {
    val fn = graft.SparkEntry.queries.getOrElse(query,
      throw new IllegalArgumentException(
        s"unknown query $query; known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val timed = (1 to Runs).map { _ =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.collect().length
      (df, Run((System.nanoTime() - t0) / 1e6, n))
    }
    (timed.head._1.queryExecution.executedPlan.toString, timed.map(_._2))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName>...")
    val spark = graft.GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    try args.tail.foreach { q =>
      val (plan, runs) = profile(spark, args.head, q)
      println(s"===== $q =====")
      println(plan)
      runs.zipWithIndex.foreach { case (r, i) =>
        println(f"$q run${i + 1}: ${r.ms}%.0f ms (${r.rows} rows)")
      }
    } finally spark.stop()
  }
}
