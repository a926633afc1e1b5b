package graft.index

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

/** The shared commit protocol ([[IndexArtifact]]) over every index
  * family, one table row per family: an artifact is complete exactly
  * when `metadata.json` exists, so a crash between component writes is
  * refused by search and update, a rebuild publishes again, and a
  * rebuild in place never serves the previous generation's cached
  * model. The cell-partitioned families (ivf, pq) also hold a resolved
  * relation per generation: an append must be seen by the next search,
  * and a second session must resolve its own. */
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

  /** The ivf and pq rows, searched in the session of the query batch
    * with a given k. */
  private val cellFamilies = Seq[(Family, (DataFrame, String, Int) => DataFrame)](
    families(0) -> ((q, d, k) => VectorIndex.search(q.sparkSession, d, q, k, nProbe = 1)),
    families(1) -> ((q, d, k) => PqIndex.search(q.sparkSession, d, q, k, nProbe = 1)))

  /** The sessions of the file relations a search plans against. */
  private def relationSessions(df: DataFrame) =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.sparkSession }

  cellFamilies.foreach { case (f, search) =>
    test(s"${f.name}: a search after an append sees the appended vectors") {
      val dir = tmp(s"${f.name}_append")
      val a = corpus(300, 0L)
      f.build(a, dir)
      f.search(queries(a), dir).collect() // resolves the generation's state
      val far = Seq.fill(8)(50.0)
      val appended = a.unionByName(Seq((10000L, far)).toDF("vec_id", "embedding"))
      assert(f.update(appended, dir) == "append")
      // k past any cell's size: the hits are every vector of the probed
      // cell that the scan saw
      val hits = search(Seq((-1L, far)).toDF("query_id", "qv"), dir, 1000)
      assert(hits.select("neighbor_id").as[Long].collect().contains(10000L))
    }

    test(s"${f.name}: a second session resolves its own relation") {
      val dir = tmp(s"${f.name}_sessions")
      val a = corpus(300, 0L)
      f.build(a, dir)
      val q = queries(a)
      val first = search(q, dir, 3)
      val want = pairs(first)
      assert(relationSessions(first).nonEmpty && relationSessions(first).forall(_ eq spark))
      val other = spark.newSession()
      val q2 = other.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
      val second = search(q2, dir, 3)
      assert(relationSessions(second).nonEmpty && relationSessions(second).forall(_ eq other))
      assert(pairs(second) == want)
      val again = search(q, dir, 3)
      assert(relationSessions(again).forall(_ eq spark) && pairs(again) == want)
    }
  }
}
