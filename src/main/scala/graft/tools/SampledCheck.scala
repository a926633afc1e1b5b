package graft.tools

import org.apache.spark.sql.functions._

/** Ladder-scale sampled-oracle dump (VERDICT r10, What's-wrong #3): at
  * scale factors where q22/q87/q113's full DuckDB oracles are quadratic
  * SQL, the checker (tools/make_correctness_sf.py) verifies them through
  * [[graft.SparkEntry.sampledOracleSql]] instead. This main produces the
  * two artifacts that path needs beyond the ordinary Verify dump:
  *
  *  - `q87_sampled/` — q87's aggregate with the NEW side restricted to
  *    the doc_id%101==7 sliver (base corpus intact). The matching SQL in
  *    sampled_oracle_sql.json applies the SAME restriction, so the
  *    comparison is exact on the sampled aggregate at ~1% of the
  *    quadratic candidate mass.
  *  - `sampled_oracle_sql.json` — the sampled-oracle SQL map, dumped
  *    by the same function as Verify's oracle_sql.json.
  *
  * Usage: runMain graft.tools.SampledCheck <sfDir> <outDir>
  */
object SampledCheck {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.GraftSession.create()
    try {
      new java.io.File(outDir).mkdirs()
      val docs = graft.Tables.documentsSpread(spark, sfDir)
        .filter(pmod(col("doc_id"), lit(2)) === 0 ||
          pmod(col("doc_id"), lit(101)) === 7)
      graft.operators.Corpus.crossCorpusDedup(docs)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/q87_sampled")

      graft.Verify.dumpSql(s"$outDir/sampled_oracle_sql.json",
        graft.SparkEntry.sampledOracleSql)
      println(s"sampled-check artifacts written under $outDir")
    } finally spark.stop()
  }
}
