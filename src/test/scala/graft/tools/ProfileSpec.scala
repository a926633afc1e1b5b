package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("five runs of one query return the same rows, after the final adaptive plan") {
    val (plan, runs) = Profile.profile(spark, sf, "q12_region_rollup")
    assert(runs.length == 5)
    assert(runs.map(_.rows).distinct.length == 1, runs)
    assert(runs.forall(_.ms > 0), runs)
    assert(plan.contains("isFinalPlan=true"), plan)
  }

  test("an unknown query name throws and lists the known names") {
    val e = intercept[IllegalArgumentException] {
      Profile.profile(spark, sf, "no_such_query")
    }
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
    assert(e.getMessage.contains("q12_region_rollup"), e.getMessage)
  }
}
