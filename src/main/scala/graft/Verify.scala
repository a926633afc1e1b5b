package graft

import java.nio.file.{Files, Paths}

import graft.core.Json

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Dev use:
  * extra args past <sfDir> <outDir> are query-name prefixes limiting the
  * dump (oracle_sql.json still carries every query — local_check skips
  * names with no parquet only when told to, so prefix runs pair with
  * `local_check.py --only`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    dumpSql(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }

  /** A query-name → SQL map as JSON, the form the DuckDB checkers
    * (tools/local_check.py, tools/make_correctness_sf.py) load. */
  def dumpSql(path: String, sql: Map[String, String]): Unit =
    Files.writeString(Paths.get(path), Json.dumps(sql))
}
