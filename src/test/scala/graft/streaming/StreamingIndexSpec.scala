package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.index.{HnswIndex, IndexArtifact, VectorIndex}

/** N2 streaming index maintenance: new vector files discovered by the
  * file stream drive build → append → rebuild per the 30% rule, with
  * checkpointed exactly-once file progress across restarts. */
class StreamingIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def writeVectors(dir: String, from: Int, until: Int): Unit = {
    val df = spark.range(from, until).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (pmod(xxhash64(col("id") * 8 + i), lit(100)).cast("double") / 50.0 - 1.0)
          .cast("float")).as("embedding"))
    df.coalesce(1).write.mode("append").parquet(dir)
  }

  test("stream drains drive build, then append, then 30%-rule rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_idx")
    val vecDir = tmp.resolve("vectors").toString
    val idxDir = tmp.resolve("ivf").toString
    val ckpt = tmp.resolve("ckpt").toString
    def drain(): Seq[String] = StreamingIndex.maintainAvailableNow(
      spark, vecDir, schema, "vec_id", "embedding", nCells = 4, idxDir, ckpt)

    writeVectors(vecDir, 0, 100)
    assert(drain() == Seq("build"))
    def indexed(): Long = spark.read.parquet(VectorIndex.Paths(idxDir).assigned).count()
    assert(indexed() == 100)

    // 10 new / 100 existing = 10% < 30% → append; old files NOT re-read
    writeVectors(vecDir, 100, 110)
    assert(drain() == Seq("append"))
    assert(indexed() == 110)

    // 60 new / 110 = 55% > 30% → rebuild (batch may arrive as one file)
    writeVectors(vecDir, 110, 170)
    assert(drain() == Seq("rebuild"))
    assert(indexed() == 170)

    // nothing new → no micro-batch fires at all
    assert(drain().isEmpty)

    // the maintained index answers searches
    val queries = spark.read.parquet(vecDir).limit(3)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
    val hits = VectorIndex.search(spark, idxDir, queries, k = 3, nProbe = 2)
    assert(hits.count() > 0)
  }

  test("graph-index drains: build, touched-cells append, 30%-rule rebuild; exhaustive parity at the end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream_hnsw")
    val vecDir = tmp.resolve("vectors").toString
    val idxDir = tmp.resolve("hnsw").toString
    val ckpt = tmp.resolve("ckpt").toString
    def drain(): Seq[String] = StreamingIndex.maintainGraphAvailableNow(
      spark, vecDir, schema, "vec_id", "embedding", nCells = 4, idxDir, ckpt,
      m = 4, efConstruction = 16)

    writeVectors(vecDir, 0, 100)
    assert(drain() == Seq("build"))
    def indexed(): Long =
      spark.read.parquet(graft.index.HnswIndex.Paths(idxDir).graph).count()
    assert(indexed() == 100)

    writeVectors(vecDir, 100, 110) // 10% < 30% → append
    assert(drain() == Seq("append"))
    assert(indexed() == 110)

    writeVectors(vecDir, 110, 170) // 55% > 30% → rebuild
    assert(drain() == Seq("rebuild"))
    assert(indexed() == 170)

    assert(drain().isEmpty) // no new files → no micro-batch

    // the maintained graph answers exhaustive searches exactly
    val all = spark.read.parquet(vecDir)
    val queries = all.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
    val got = graft.index.HnswIndex.search(spark, idxDir, queries, k = 3,
        efSearch = Int.MaxValue, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = all.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
    val want = graft.operators.Similarity.topKExact(queries, corpus, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  /** The first 100 vectors, built into `kind`'s index at a fresh dir whose
    * commit point is then removed (a build that crashed before
    * publishing), and three queries over them. */
  private def unpublished(kind: String, build: (DataFrame, String) => Unit) = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_unpub_$kind")
    val vecDir = tmp.resolve("vectors").toString
    writeVectors(vecDir, 0, 100)
    val vectors = spark.read.parquet(vecDir)
    val idxDir = tmp.resolve(kind).toString
    build(vectors, idxDir)
    IndexArtifact.unpublish(spark, idxDir)
    val queries = vectors.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
    (vectors, idxDir, queries)
  }

  test("an IVF build that never published is rebuilt, then serves") {
    val (vectors, idxDir, queries) = unpublished("ivf",
      VectorIndex.build(_, "vec_id", "embedding", 4, _))
    assert(StreamingIndex.updateOrBuild(vectors, "vec_id", "embedding", 4, idxDir) == "build")
    assert(VectorIndex.search(spark, idxDir, queries, k = 3, nProbe = 4).count() == 9)
  }

  test("an HNSW build that never published is rebuilt, then serves") {
    val (vectors, idxDir, queries) = unpublished("hnsw",
      HnswIndex.build(_, "vec_id", "embedding", 4, _, m = 4, efConstruction = 16))
    assert(StreamingIndex.updateOrBuildGraph(vectors, "vec_id", "embedding", 4, idxDir,
      m = 4, efConstruction = 16) == "build")
    assert(HnswIndex.search(spark, idxDir, queries, k = 3, efSearch = 64, nProbe = 4)
      .count() == 9)
  }

  /** One index family as the streaming maintainer drives it. */
  private final class Family(val name: String,
      val step: (DataFrame, String) => String,
      val build: (DataFrame, String) => Unit,
      val update: (DataFrame, String) => String,
      val stored: String => String,
      val search: (DataFrame, String) => DataFrame)

  private val families = Seq(
    new Family("IVF",
      StreamingIndex.updateOrBuild(_, "vec_id", "embedding", 4, _),
      (v, d) => { VectorIndex.build(v, "vec_id", "embedding", 4, d); () },
      VectorIndex.update(_, "vec_id", "embedding", 4, _),
      VectorIndex.Paths(_).assigned,
      (q, d) => VectorIndex.search(spark, d, q, k = 1000, nProbe = 4)),
    new Family("HNSW",
      StreamingIndex.updateOrBuildGraph(_, "vec_id", "embedding", 4, _,
        m = 4, efConstruction = 16),
      (v, d) => { HnswIndex.build(v, "vec_id", "embedding", 4, d, m = 4,
        efConstruction = 16); () },
      HnswIndex.update(_, "vec_id", "embedding", _),
      HnswIndex.Paths(_).graph,
      (q, d) => HnswIndex.search(spark, d, q, k = 1000, efSearch = Int.MaxValue,
        nProbe = 4)))

  /** Vectors `from until until`, written to a directory of their own. */
  private def batch(vecDir: String, from: Int, until: Int): DataFrame = {
    val dir = s"$vecDir/${from}_$until"
    writeVectors(dir, from, until)
    spark.read.parquet(dir)
  }

  /** The ids an exhaustive search of the index at `idxDir` returns, and
    * the vector count its metadata publishes. */
  private def served(f: Family, idxDir: String): (Set[Long], Long) = {
    val q = spark.range(1).select(lit(-1L).as("query_id"),
      array((1 to 8).map(i => lit(i / 8.0)): _*).as("qv"))
    (f.search(q, idxDir).collect().map(_.getAs[Long]("neighbor_id")).toSet,
      IndexArtifact.readMetadata(spark, idxDir).get("n_vectors").asLong)
  }

  for (f <- families) {
    test(s"${f.name}: an append that crashed before publishing keeps every indexed vector") {
      val tmp = java.nio.file.Files.createTempDirectory("graft_crashed_append").toString
      val idxDir = s"$tmp/idx"
      assert(f.step(batch(tmp, 0, 100), idxDir) == "build")
      assert(f.update(batch(tmp, 100, 110), idxDir) == "append")
      IndexArtifact.unpublish(spark, idxDir) // the crash: appended, never published
      assert(f.step(batch(tmp, 110, 115), idxDir) == "build")
      assert(served(f, idxDir) == ((0L until 115L).toSet, 115L))
      assert(f.step(batch(tmp, 115, 120), idxDir) == "append")
    }

    test(s"${f.name}: a rebuild that crashed mid-overwrite is rebuilt from its staged corpus") {
      val tmp = java.nio.file.Files.createTempDirectory("graft_crashed_rebuild").toString
      val idxDir = s"$tmp/idx"
      assert(f.step(batch(tmp, 0, 100), idxDir) == "build")
      // the crash: the rebuild staged the union of the index and its
      // 60 new vectors, then overwrote the stored vectors with a part of
      // them and never published
      batch(tmp, 0, 160).select(col("vec_id"),
          graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("embedding"))
        .write.parquet(IndexArtifact.stagingPath(idxDir))
      f.build(batch(tmp, 140, 160), idxDir)
      IndexArtifact.unpublish(spark, idxDir)
      assert(spark.read.parquet(f.stored(idxDir)).count() == 20)
      assert(f.step(batch(tmp, 160, 165), idxDir) == "build")
      assert(served(f, idxDir) == ((0L until 165L).toSet, 165L))
      assert(!new java.io.File(IndexArtifact.stagingPath(idxDir)).exists)
    }
  }
}
