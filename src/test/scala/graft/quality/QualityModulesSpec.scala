package graft.quality

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.embed.{Embedder, HashEncoder}
import graft.index.VectorIndex

class QualityModulesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val segments = (0 until 60).map { i =>
    val ep = s"E${i % 3}"
    (s"s$i", ep, s"spk${i % 5}", i * 10.0, i * 10.0 + 9.0, 9.0,
      s"tokens about topic${i % 4} content words $i", s"series${i % 2}")
  }.toDF("span_id", "episode_id", "speaker", "start_time", "end_time",
    "duration", "text", "series")

  private lazy val embeddings =
    Embedder.embed(segments, "span_id", "text", "span", HashEncoder(dim = 24)).cache()

  test("F5 guardrails drop over-ceiling segments and report offenders") {
    val df = Seq(("a", 100.0), ("b", 500.0), ("c", 300.0))
      .toDF("span_id", "duration")
    val r = Guardrails(df, "span_id", maxDuration = 240.0)
    assert(r.kept.count() == 1 && r.dropped.count() == 2)
    val out = java.nio.file.Files.createTempDirectory("guardrail").resolve("kept").toString
    assert(r.writeKept(out) == ((1L, Seq(("b", 500.0), ("c", 300.0)))))
    assert(spark.read.parquet(out).count() == 1)
  }

  test("A14 speakerBalance: a NULL speaker in the top-N is not double-counted into the tail") {
    val df = (Seq.fill(10)(Option.empty[String]) ++ Seq.fill(3)(Some("spk1")) ++
        Seq.fill(2)(Some("spk2")) ++ Seq.fill(1)(Some("spk3")))
      .zipWithIndex
      .map { case (s, i) => (s.orNull, 1.0, s"x$i") }
      .toDF("speaker", "duration", "span_id")
    val out = Quality.speakerBalance(df, topN = 2).collect()
    // null group (10 rows) + spk1 (3) are top-2; tail = spk2 + spk3 = 3 rows
    assert(out.map(_.getLong(1)).sum == 16, "pct/row totals must cover each row exactly once")
    val tail = out.filter(_.getString(0) == "<other>")
    assert(tail.length == 1 && tail.head.getLong(1) == 3)
  }

  test("F12 routing table routes checks by role") {
    val routing = Guardrails.defaultRouting.withRoute("base", Set("custom"))
    assert(routing.checksFor("embedding").contains("id_join_back"))
    assert(routing.checksFor("base").contains("custom"))
    assert(routing.checksFor("unknown").isEmpty)
  }

  test("J4/V16 embedding checks: dims consistent, orphans detected") {
    val withOrphan = embeddings.unionByName(
      embeddings.limit(1).withColumn("artifact_id", lit("ghost")))
    val r = Guardrails.embeddingChecks(withOrphan, segments, "span_id").collect().head
    assert(r.getAs[Long]("n_distinct_dims") == 1)
    assert(r.getAs[Long]("min_dim") == 24)
    assert(r.getAs[Long]("n_orphan_embeddings") == 1)
  }

  test("V11 lexical-vs-embedding correlation yields a bounded value") {
    val r = EmbeddingSanity.lexicalVsEmbedding(segments, embeddings, "span_id", nPairs = 20)
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 20)
    val c = r.getAs[Double]("lexical_embedding_corr")
    assert(c >= -1.0 && c <= 1.0)
  }

  test("V12/V13/V14/V15 neighbor metrics run and stay in range") {
    val neigh = EmbeddingSanity.sampledNeighbors(segments, embeddings, "span_id",
      k = 3, sampleSize = 10, extraCols = Seq("series")).cache()
    assert(neigh.count() == 30)
    val cross = EmbeddingSanity.crossSeriesPct(neigh).first().getDouble(0)
    assert(cross >= 0.0 && cross <= 100.0)
    val adj = EmbeddingSanity.adjacencyBiasPct(neigh, 15.0).first().getDouble(0)
    assert(adj >= 0.0 && adj <= 100.0)
    val coh = EmbeddingSanity.neighborCoherence(neigh, segments, "span_id").collect().head
    assert(coh.getAs[Long]("n_queries") == 10)
    val sample = EmbeddingSanity.neighborListSample(neigh, n = 2).collect()
    assert(sample.nonEmpty && sample.forall(r => !r.isNullAt(r.fieldIndex("same_speaker"))))
    val outliers = EmbeddingSanity.similarityOutliers(neigh, 2).collect()
    assert(outliers.map(_.getAs[String]("kind")).toSet == Set("isolated", "central"))
  }

  test("V4-V6/N2 vector index: build, search, incremental append vs rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_idx").toString
    val vecs = embeddings.select(col("artifact_id").as("id"), col("embedding"))
    VectorIndex.build(vecs, "id", "embedding", nCells = 4, outDir = dir)
    assert(spark.read.parquet(s"$dir/assigned.parquet").count() == 60)

    // search returns k results per query with self excluded
    val queries = vecs.limit(2).select(col("id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
    val res = VectorIndex.search(spark, dir, queries, k = 5, nProbe = 4)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))

    // same vectors again → noop
    assert(VectorIndex.update(vecs, "id", "embedding", 4, dir) == "noop")
    // small batch → append
    val extra = Embedder.embed(
      Seq(("x1", "novel text one"), ("x2", "novel text two"))
        .toDF("id", "text"), "id", "text", "span", HashEncoder(dim = 24))
      .select(col("artifact_id").as("id"), col("embedding"))
    assert(VectorIndex.update(vecs.unionByName(extra), "id", "embedding", 4, dir) == "append")
    assert(spark.read.parquet(s"$dir/assigned.parquet").count() == 62)
    // large batch (> 30%) → rebuild
    val many = Embedder.embed(
      (0 until 30).map(i => (s"y$i", s"more text $i")).toDF("id", "text"),
      "id", "text", "span", HashEncoder(dim = 24))
      .select(col("artifact_id").as("id"), col("embedding"))
    assert(VectorIndex.update(vecs.unionByName(extra).unionByName(many),
      "id", "embedding", 4, dir) == "rebuild")
    assert(spark.read.parquet(s"$dir/assigned.parquet").count() == 92)
  }
}
