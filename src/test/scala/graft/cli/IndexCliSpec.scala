package graft.cli

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The `index-*` commands end to end over the synthetic embeddings
  * table: both index kinds build, update, and serve a search whose
  * exhaustive configuration reproduces brute force — the CLI surface
  * must track the index inventory (IVF + X131 HNSW), not trail it. */
class IndexCliSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val emb = "/root/testdata/sf0.001/embeddings.parquet"

  test("index-build / index-update / index-search round-trip for both kinds") {
    for (kind <- Seq("ivf", "hnsw")) {
      val base = Files.createTempDirectory(s"graft_cli_idx_$kind").toString
      val idx = s"$base/index"
      val out = s"$base/hits"
      Main.run(spark, Array("index-build", emb, idx, "--kind", kind, "--cells", "8"))
      // resubmitting the same vectors is a noop update
      Main.run(spark, Array("index-update", emb, idx, "--kind", kind, "--cells", "8"))
      // exhaustive configuration: probes = cells (+ huge ef for hnsw)
      Main.run(spark, Array("index-search", idx, emb, out, "--kind", kind,
        "--k", "5", "--probes", "8", "--ef", "1000000"))
      val hits = spark.read.parquet(out)
      val nq = spark.read.parquet(emb).count()
      assert(hits.count() == nq * 5, s"$kind: expected $nq*5 hit rows")
      assert(hits.columns.toSet == Set("query_id", "neighbor_id", "sim", "rnk"))
      // spot-check one query's top-1 equals exact brute force
      val q0 = hits.filter(col("query_id") === 0 && col("rnk") === 1)
        .select("neighbor_id").collect().head.getLong(0)
      val e = spark.read.parquet(emb)
      val queries = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("query_id"),
          graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
      val corpus = e.select(col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
      val want = graft.operators.Similarity.topKExact(queries, corpus, 1)
        .select("neighbor_id").collect().head.getLong(0)
      assert(q0 == want, s"$kind: top-1 mismatch")
    }
  }

  test("an unknown index kind is a usage error, not an exit of the caller's JVM") {
    val base = Files.createTempDirectory("graft_cli_idx_kind").toString
    Seq(
      Array("index-build", emb, s"$base/index", "--kind", "annoy"),
      Array("index-update", emb, s"$base/index", "--kind", "annoy"),
      Array("index-search", s"$base/index", emb, s"$base/hits", "--kind", "annoy")
    ).foreach { args =>
      val e = intercept[Main.UsageError](Main.run(spark, args))
      assert(e.getMessage.contains("unknown index kind: annoy"), e.getMessage)
    }
  }
}
