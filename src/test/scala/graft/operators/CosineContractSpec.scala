package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}
import graft.index.{HnswIndex, PqIndex, VectorIndex}

/** One cosine ranking contract for every top-k path (the DuckDB
  * oracle's): sim = round(dot(q, n) / (‖q‖·‖n‖), 6); a zero norm on
  * either side gives a null sim (`x / 0.0 → NULL`) that ranks after
  * every real sim; ties break on the ascending neighbor id.
  *
  * Each path is compared with [[Similarity.topKExactJoin]] over the
  * vectors it scores (EXCEPT ALL both ways), at a k that splits
  * duplicate-vector ties and at a k that admits every candidate, where
  * the all-zero vector must come last with a null sim. */
class CosineContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Dim = 8
  private val ZeroId = 500L
  private val ZeroQuery = 999L
  private val NullLabelId = 2077L
  private val Cells = 4
  private val KTies = 7
  private val KAll = 100 // above the 82-vector corpus

  /** 40 vectors around 4 seeds (label = seed), their duplicates under
    * id + 1000 (rounded-sim ties at every k boundary), one all-zero
    * vector and one vector without a label. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(7)
    val seeds = Array.fill(4)(Array.fill(Dim)(rng.nextGaussian()))
    val base = (0 until 40).map { i =>
      (i.toLong, Option(i % 4), seeds(i % 4).map(x => x + 0.1 * rng.nextGaussian()).toSeq)
    }
    (base ++ base.map { case (id, l, v) => (id + 1000L, l, v) } ++ Seq(
      (ZeroId, Option(1), Seq.fill(Dim)(0.0)),
      (NullLabelId, Option.empty[Int], seeds(0).toSeq)))
      .toDF("neighbor_id", "nlabel", "nv").localCheckpoint(true)
  }
  private lazy val vecs = corpus.select("neighbor_id", "nv")

  /** Vectors 0..3 plus one all-zero query that is not in the corpus. */
  private lazy val labeledQueries: DataFrame = corpus.filter(col("neighbor_id") < 4)
    .select(col("neighbor_id").as("query_id"), col("nv").as("qv"), col("nlabel").as("qlabel"))
    .unionByName(Seq((ZeroQuery, Option(0), Seq.fill(Dim)(0.0)))
      .toDF("query_id", "qlabel", "qv"))
    .localCheckpoint(true)
  private lazy val queries = labeledQueries.select("query_id", "qv")

  private def exact(q: DataFrame, c: DataFrame, k: Int): DataFrame =
    Similarity.topKExactJoin(q, c.select("neighbor_id", "nv"), k)

  /** The SQL `c.label <> q.label`: both labels non-null and different. */
  private def hardNegativesRef(k: Int): DataFrame =
    labeledQueries.collect().map { r =>
      exact(queries.filter(col("query_id") === r.getAs[Long]("query_id")),
        corpus.filter(col("nlabel") =!= lit(r.getAs[Int]("qlabel"))), k)
    }.reduce(_ unionByName _)

  /** The int8 reconstruction an int8 / PQ HNSW index stores. */
  private lazy val int8Vecs: DataFrame = {
    val qs = VF.int8Scale(col("nv"))
    vecs.select(col("neighbor_id"),
      when(qs.isNotNull, VF.dequantizeInt8(VF.quantizeInt8(col("nv"), qs), qs))
        .otherwise(col("nv")).as("nv"))
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_cosine_$tag").toString + "/idx"
  private lazy val ivfDir = {
    val d = tmp("ivf"); VectorIndex.build(vecs, "neighbor_id", "nv", Cells, d); d
  }
  private lazy val pqDir = {
    val d = tmp("pq"); PqIndex.build(vecs, "neighbor_id", "nv", Cells, d, m = 4, k = 16); d
  }
  private lazy val hnswDir = {
    val d = tmp("hnsw")
    HnswIndex.build(vecs, "neighbor_id", "nv", Cells, d, m = 4, efConstruction = 16); d
  }
  private lazy val hnswPqDir = {
    val d = tmp("hnswpq")
    HnswIndex.build(vecs, "neighbor_id", "nv", Cells, d, m = 4, efConstruction = 16,
      pqM = 4, pqK = 16); d
  }

  /** (path, its top-k, the exact join over the vectors it scores). */
  private val paths: Seq[(String, Int => DataFrame, Int => DataFrame)] = Seq(
    ("topKExact", k => Similarity.topKExact(queries, vecs, k), k => exact(queries, vecs, k)),
    ("hardNegatives", k => Similarity.hardNegatives(labeledQueries, corpus, k),
      hardNegativesRef),
    ("VectorIndex.search, every cell probed",
      k => VectorIndex.search(spark, ivfDir, queries, k, nProbe = Cells),
      k => exact(queries, vecs, k)),
    ("PqIndex.searchReranked, full window",
      k => PqIndex.searchReranked(spark, pqDir, queries, vecs, "neighbor_id", "nv", k,
        nProbe = Cells, window = KAll),
      k => exact(queries, vecs, k)),
    ("HnswIndex.search, exhaustive",
      k => HnswIndex.search(spark, hnswDir, queries, k, efSearch = Int.MaxValue,
        nProbe = Cells),
      k => exact(queries, vecs, k)),
    ("HnswIndex.searchPq, exhaustive, resident rerank",
      k => HnswIndex.searchPq(spark, hnswPqDir, queries, k, efSearch = Int.MaxValue,
        nProbe = Cells, window = KAll, residentRerank = true),
      k => exact(queries, int8Vecs, k)),
    ("HnswIndex.searchPq, exhaustive, disk rerank",
      k => HnswIndex.searchPq(spark, hnswPqDir, queries, k, efSearch = Int.MaxValue,
        nProbe = Cells, window = KAll),
      k => exact(queries, int8Vecs, k)))

  private def rows(df: DataFrame): DataFrame =
    df.select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk").cast("int"))

  private def assertSame(what: String, got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rows(got).localCheckpoint(true), rows(want).localCheckpoint(true))
    val extra = g.exceptAll(w).collect()
    val missing = w.exceptAll(g).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$what: rows not in the join ${extra.mkString(", ")}; " +
        s"join rows missing ${missing.mkString(", ")}")
  }

  paths.foreach { case (name, path, reference) =>
    test(s"$name: equals the join; zero vector last, null sim") {
      assertSame(s"$name at k = $KTies", path(KTies), reference(KTies))
      assertSame(s"$name at k = $KAll", path(KAll), reference(KAll))
      val all = rows(path(KAll)).collect()
      val byQuery = all.groupBy(_.getLong(0))
      assert(byQuery(ZeroQuery).forall(_.isNullAt(2)),
        s"$name: the all-zero query must score null everywhere")
      val withZero = byQuery.removed(ZeroQuery).values
        .filter(_.exists(_.getLong(1) == ZeroId)).toSeq
      assert(withZero.nonEmpty, s"$name: no query ranked the zero vector")
      withZero.foreach { rs =>
        val last = rs.maxBy(_.getInt(3))
        assert(last.getLong(1) == ZeroId && last.isNullAt(2),
          s"$name: query ${last.getLong(0)} ranks the zero vector at " +
            s"${rs.find(_.getLong(1) == ZeroId).get}, not last with a null sim")
      }
    }
  }

  test("decontamByEmbedding (q88): a zero-norm row is never flagged and flags nothing") {
    val c = vecs.select(col("neighbor_id").as("id"), col("nv").as("v"))
    val ev = queries.select(col("query_id").as("eval_id"), col("qv").as("eval_vec"))
    val got = Similarity.decontamByEmbedding(c, ev, "id", "v", tau = 0.5)
    val want = Similarity.decontamByEmbedding(c.filter(col("id") =!= ZeroId),
      ev.filter(col("eval_id") =!= ZeroQuery), "id", "v", tau = 0.5)
    assert(want.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
