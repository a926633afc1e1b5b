package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Oracle, Query}

class BenchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val none = Oracle.Reason("test query")

  test("a query that throws gets no time: it is named in failed, outside queries and total") {
    val registry = Seq(
      Query("q01_ok", (s, _) => s.range(3).toDF(), none),
      // throws when counted, like a query whose plan fails at run time
      Query("q02_boom", (s, _) => s.range(1).toDF().where("raise_error('boom') IS NULL"), none),
      // throws while the frame is built
      Query("q03_unbuilt", (_, _) => throw new IllegalStateException("no frame"), none),
      // throws only where its output column is evaluated, which a count prunes
      Query("q04_projected", (s, _) => s.range(1).selectExpr("raise_error('boom') AS x"), none))
    val json = Bench.queriesJson(spark, "/no/such/dir", registry)
    val timed = json.get("queries").fieldNames.asScala.toSeq
    assert(timed == Seq("q01_ok"))
    assert(json.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q02_boom", "q03_unbuilt", "q04_projected"))
    assert(json.get("total").asDouble == json.get("queries").get("q01_ok").asDouble)
  }

  test("the anchor is written when absent or from the same core count, refused otherwise") {
    assert(Bench.anchorVerdict(None, 8) == Right(()))
    assert(Bench.anchorVerdict(Some("""{"value":53.2,"cpus":8}"""), 8) == Right(()))
    assert(Bench.anchorVerdict(Some("""{"value":53.2,"cpus":32}"""), 8).isLeft)
    assert(Bench.anchorVerdict(Some("""{"value":53.2}"""), 8).isLeft)
    assert(Bench.anchorVerdict(Some("not json"), 8).isLeft)
  }
}
