package graft.index

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

/** The shared commit protocol ([[IndexArtifact]]) over every index
  * family, one table row per family: an artifact is complete exactly
  * when `metadata.json` exists, so a crash between component writes is
  * refused by search and update, a rebuild publishes again, and a
  * rebuild in place never serves the previous generation's cached
  * model. */
class IndexCommitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private final case class Family(name: String,
      build: (DataFrame, String) => Long,
      update: (DataFrame, String) => String,
      search: (DataFrame, String) => DataFrame)

  private val Cells = 4

  private val families = Seq(
    Family("ivf",
      (v, d) => VectorIndex.build(v, "vec_id", "embedding", Cells, d),
      (v, d) => VectorIndex.update(v, "vec_id", "embedding", Cells, d),
      (q, d) => VectorIndex.search(spark, d, q, k = 3, nProbe = 1)),
    Family("pq",
      (v, d) => PqIndex.build(v, "vec_id", "embedding", Cells, d, m = 4, k = 16),
      (v, d) => PqIndex.update(v, "vec_id", "embedding", Cells, d, m = 4, k = 16),
      (q, d) => PqIndex.search(spark, d, q, k = 3, nProbe = 1)),
    Family("hnsw",
      (v, d) => HnswIndex.build(v, "vec_id", "embedding", Cells, d,
        m = 4, efConstruction = 16),
      (v, d) => HnswIndex.update(v, "vec_id", "embedding", d),
      (q, d) => HnswIndex.search(spark, d, q, k = 3, efSearch = 16, nProbe = 1)))

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_commit_$tag").toString + "/index"

  /** Clustered 8-dim corpus; `salt` moves every cluster center, so two
    * salts train different coarse quantizers. */
  private def corpus(n: Int, salt: Long): DataFrame = {
    val cluster = col("id") % Cells + salt * 101
    def u(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed * 8 + i), lit(1000)).cast("double") / 500.0 - 1.0
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => u(cluster, i) + u(col("id") + 7919L * (salt + 1), i) * 0.3).as("embedding"))
      .localCheckpoint(true)
  }

  private def queries(df: DataFrame): DataFrame =
    df.filter(col("vec_id") < 6L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

  families.foreach { f =>
    test(s"${f.name}: search and update refuse a crash between component writes") {
      val dir = tmp(s"${f.name}_crash")
      val other = tmp(s"${f.name}_other")
      val a = corpus(300, 0L)
      assert(f.build(a, dir) == 300L)
      f.build(corpus(300, 1L), other)
      // a rebuild that stopped after writing its centroids: new centroids
      // beside the old cells, and the artifact never published again
      FileUtils.deleteDirectory(new File(s"$dir/centroids.parquet"))
      FileUtils.copyDirectory(new File(s"$other/centroids.parquet"),
        new File(s"$dir/centroids.parquet"))
      assert(new File(s"$dir/metadata.json").delete())
      new File(s"$dir/.metadata.json.crc").delete()
      val q = queries(a)
      val e1 = intercept[IllegalStateException](f.search(q, dir).collect())
      assert(e1.getMessage.contains("incomplete"))
      val e2 = intercept[IllegalStateException](f.update(a, dir))
      assert(e2.getMessage.contains("incomplete") && e2.getMessage.contains("rebuild"))
      // a rebuild publishes again
      assert(f.build(a, dir) == 300L)
      assert(f.update(a, dir) == "noop")
      assert(pairs(f.search(q, dir)).nonEmpty)
      HnswIndex.evict(dir) // drops resident HNSW graphs; a no-op for ivf and pq
    }

    test(s"${f.name}: a rebuild in place invalidates the cached model") {
      val dir = tmp(s"${f.name}_inplace")
      val fresh = tmp(s"${f.name}_fresh")
      val a = corpus(300, 0L)
      val b = corpus(300, 1L)
      f.build(a, dir)
      f.search(queries(a), dir).collect() // caches the first generation
      f.build(b, dir)
      f.build(b, fresh)
      assert(pairs(f.search(queries(b), dir)) == pairs(f.search(queries(b), fresh)))
      Seq(dir, fresh).foreach(HnswIndex.evict)
    }
  }
}
