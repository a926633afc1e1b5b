package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.{JobCount, SparkTestSession}

/** [[Guards.requireAtMost]] counts a driver-local batch from its plan
  * and anything else through the bounded count job. */
class GuardsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def guard(df: org.apache.spark.sql.DataFrame, max: Long): Long =
    Guards.requireAtMost(df, max, "GuardsSpec", "use a smaller input")

  test("a driver-local batch is counted with no job and still refused past the cap") {
    val batch = Seq((1L, 0.5), (2L, 0.25), (3L, 0.125)).toDF("id", "x")
    val (n, jobs) = JobCount(spark)(guard(batch, 3))
    assert(n == 3L && jobs == 0)
    val (e, refusedJobs) = JobCount(spark)(intercept[IllegalArgumentException](guard(batch, 2)))
    assert(e.getMessage.contains("exceeds 2 rows") && refusedJobs == 0)
  }

  test("a parquet-backed frame is still counted by a job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_guards").toString + "/t"
    spark.range(10).write.parquet(dir)
    val (n, jobs) = JobCount(spark)(guard(spark.read.parquet(dir), 100))
    assert(n == 10L && jobs >= 1)
    intercept[IllegalArgumentException](guard(spark.read.parquet(dir), 9))
  }
}
