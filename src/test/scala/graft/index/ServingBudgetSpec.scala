package graft.index

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestSession}
import graft.expressions.CellKernels

/** The serving shape: a driver-local one-query batch (`Seq(...).toDF`),
  * as an application sends it, against an index of 64 cells — more
  * than the 32 paths past which Spark lists directories with a job. A
  * warm IVF or PQ search reads only the probed cells' files and starts
  * at most 3 jobs (the probe broadcast, the scan stage, the top-k
  * merge); a warm HNSW search starts at most 2. */
class ServingBudgetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Cells = 64
  private val K = 10
  private val NProbe = 4

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_serving_$tag").toString + "/index"

  /** 64 clusters of 24 8-dim vectors. */
  private lazy val corpus: DataFrame = {
    def u(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed * 8 + i), lit(1000)).cast("double") / 500.0 - 1.0
    spark.range(Cells * 24).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => u(col("id") % Cells, i) + u(col("id") + 7919L, i) * 0.2).as("embedding"))
      .localCheckpoint(true)
  }

  private lazy val queryVec: Array[Double] =
    corpus.filter(col("vec_id") === 5L).select("embedding").as[Seq[Double]].head()
      .map(_ + 0.01).toArray

  private def batch: DataFrame = Seq((-1L, queryVec.toSeq)).toDF("query_id", "qv")

  /** Cell directories the query's probe names, by the same kernel. */
  private def probedCellDirs(dir: String): Int = {
    val cents = spark.read.parquet(s"$dir/centroids.parquet")
      .select("cell_id", "centroid").as[(Int, Seq[Double])].collect().sortBy(_._1)
    val centVecs = cents.map(_._2.toArray)
    CellKernels.probeCells(UnsafeArrayData.fromPrimitiveArray(queryVec), centVecs,
      CellKernels.invNorms(centVecs), NProbe).toIntArray()
      .map(pos => new File(s"$dir/assigned.parquet/cell_id=${cents(pos)._1}"))
      .count(_.isDirectory)
  }

  Seq[(String, String => Long, (DataFrame, String) => DataFrame)](
    ("ivf", d => VectorIndex.build(corpus, "vec_id", "embedding", Cells, d),
      (q, d) => VectorIndex.search(spark, d, q, K, NProbe)),
    ("pq", d => PqIndex.build(corpus, "vec_id", "embedding", Cells, d, m = 4, k = 16),
      (q, d) => PqIndex.search(spark, d, q, K, NProbe))
  ).foreach { case (name, build, search) =>
    test(s"$name: a local one-query batch reads only the probed cells, in <= 3 jobs") {
      val dir = tmp(name)
      build(dir)
      assert(new File(s"$dir/assigned.parquet").list().count(_.startsWith("cell_id=")) > 32)
      search(batch, dir).collect() // resolves the generation's state
      val ((hits, rows), jobs) = JobCount(spark) {
        val hits = search(batch, dir)
        (hits, hits.collect())
      }
      assert(rows.length == K)
      assert(jobs <= 3, s"$jobs jobs for one warm search")
      val plan = hits.queryExecution.executedPlan
      assert(plan.toString.contains("dynamicpruningexpression"),
        s"the probed cells must prune the cell_id scan:\n$plan")
      val scans = collect(plan) { case s: FileSourceScanExec => s }
      assert(scans.length == 1, plan.toString)
      assert(scans.head.metrics("numFiles").value == probedCellDirs(dir),
        s"files read by the scan:\n$plan")
    }
  }

  test("hnsw: a local one-query batch is served in <= 2 jobs") {
    val dir = tmp("hnsw")
    HnswIndex.build(corpus, "vec_id", "embedding", 8, dir, m = 4, efConstruction = 16)
    def search() =
      HnswIndex.search(spark, dir, batch, K, efSearch = 32, nProbe = NProbe).collect()
    search()
    val (rows, jobs) = JobCount(spark)(search())
    assert(rows.length == K)
    assert(jobs <= 2, s"$jobs jobs for one warm search")
    HnswIndex.evict(dir)
  }
}
