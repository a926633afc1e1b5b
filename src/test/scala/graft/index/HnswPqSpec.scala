package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

/** Gate for the PQ-coded graph serving form (r12 verdict, next-round
  * #2 — FAISS's HNSW-over-PQ composition): the beam traverses m-byte
  * codes, the rerank restores exactness from the int8 store, and the
  * exhaustive configuration (ef ≥ cell, nProbe = nCells, window ≥
  * cell) must reproduce the int8-exhaustive result BIT-FOR-BIT — the
  * same oracle-sharing device the float and int8 modes pin. */
class HnswPqSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_hnswpq_$tag").toString + "/hnsw"

  private def clusteredCorpus(n: Int, dim: Int, nClusters: Int) = {
    val cluster = col("id") % nClusters
    def u(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed * dim + i), lit(1000)).cast("double") / 500.0 - 1.0
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => u(cluster, i) + u(col("id") + 7919L * n, i) * 0.5).as("embedding"))
  }

  private def queriesOf(df: org.apache.spark.sql.DataFrame, maxId: Long) =
    df.filter(col("vec_id") < maxId)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))

  /** Brute force over the int8-RECONSTRUCTED corpus — what the pq
    * index's exact store represents (the int8 mode's oracle). */
  private def reconExact(emb: org.apache.spark.sql.DataFrame,
      q: org.apache.spark.sql.DataFrame, k: Int) = {
    val vd = VF.vecAsDouble(col("embedding"))
    val qs = VF.int8Scale(vd)
    val recon = emb.select(col("vec_id").as("neighbor_id"),
      when(qs.isNotNull, VF.dequantizeInt8(VF.quantizeInt8(vd, qs), qs))
        .otherwise(vd).as("nv"))
    graft.operators.Similarity.topKExact(q, recon, k)
  }

  test("exhaustive pq config reproduces the int8-exhaustive result bit-for-bit") {
    val dir = tmp("exact")
    val emb = clusteredCorpus(2000, 32, 8).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, dir,
      m = 6, efConstruction = 32, pqM = 8)
    val q = queriesOf(emb, 12L).localCheckpoint(true)
    val got = HnswIndex.searchPq(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 8, window = Int.MaxValue)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val want = reconExact(emb, q, 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got.length == want.length && got.length == 60)
    assert(got.sameElements(want))
  }

  test("resident in-cell rerank: exhaustive config bit-equal to the disk rerank and the int8 oracle") {
    val dir = tmp("rr")
    val emb = clusteredCorpus(2000, 32, 8).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, dir,
      m = 6, efConstruction = 32, pqM = 8)
    val q = queriesOf(emb, 12L).localCheckpoint(true)
    def collected(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val viaResident = collected(HnswIndex.searchPq(spark, dir, q, k = 5,
      efSearch = Int.MaxValue, nProbe = 8, window = Int.MaxValue,
      residentRerank = true))
    val viaDisk = collected(HnswIndex.searchPq(spark, dir, q, k = 5,
      efSearch = Int.MaxValue, nProbe = 8, window = Int.MaxValue))
    val want = collected(reconExact(emb, q, 5))
    assert(viaResident.sameElements(want),
      "resident in-cell rerank != int8-exhaustive oracle")
    assert(viaDisk.sameElements(want), "disk rerank != int8-exhaustive oracle")
    HnswIndex.evict(dir)
  }

  test("approximate pq config: reranked recall@10 >= 0.95 against the original floats") {
    val dir = tmp("recall")
    val emb = clusteredCorpus(4000, 32, 16).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 16, dir,
      m = 8, efConstruction = 64, pqM = 8)
    val q = queriesOf(emb, 40L).localCheckpoint(true)
    val approx = HnswIndex.searchPq(spark, dir, q, k = 10,
        efSearch = 64, nProbe = 4, window = 30)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(q, corpus, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"pq reranked recall@10 = $recall")
  }

  test("resident serving form carries m code bytes + one norm per node, never the vectors") {
    val dir = tmp("bytes")
    val dim = 32
    val m = 8
    val emb = clusteredCorpus(1500, dim, 6).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 6, dir,
      m = 6, efConstruction = 32, pqM = m)
    // disk rows hold BOTH forms: codes for the resident beam, int8 for
    // the on-disk rerank store; no float64 vector column survives
    val cols = spark.read.parquet(HnswIndex.Paths(dir).graph).columns.toSet
    assert(cols.contains("_codes") && cols.contains("_rn") &&
      cols.contains("_q") && cols.contains("_qs") && !cols.contains("_v"),
      s"unexpected pq storage schema: $cols")
    // the resident form is code-only: m bytes + 8-byte norm per node —
    // strictly below the int8 store's dim bytes per vector
    val graphs = HnswIndex.loadGraphPq(spark, HnswIndex.Paths(dir)).collect()
    assert(graphs.nonEmpty)
    graphs.foreach { g =>
      assert(g.m == m && g.codes.length == g.n * m && g.rn.length == g.n)
    }
    val residentBytesPerVec = m + 8
    assert(residentBytesPerVec < dim,
      s"resident $residentBytesPerVec B/vec not below int8's $dim B/vec")
    HnswIndex.evict(dir)
  }

  test("pq build is deterministic: two builds produce row-identical codes and graphs") {
    val emb = clusteredCorpus(600, 16, 4).localCheckpoint(true)
    def rowsOf(dir: String) = {
      HnswIndex.build(emb, "vec_id", "embedding", nCells = 4, dir,
        m = 4, efConstruction = 24, pqM = 4)
      spark.read.parquet(HnswIndex.Paths(dir).graph)
        .select(col("cell_id").cast("int"), col("_id"), col("top_layer"),
          col("_codes").cast("string"), col("_rn"), col("nbrs").cast("string"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2),
          r.getString(3), r.getDouble(4), r.getString(5)))
        .sortBy(t => (t._1, t._2))
    }
    val a = rowsOf(tmp("det_a"))
    val b = rowsOf(tmp("det_b"))
    assert(a.sameElements(b))
  }

  test("maintenance: append re-encodes touched cells with the persisted codebooks; exhaustive parity holds") {
    val dir = tmp("upd")
    val nClusters = 8
    val base = clusteredCorpus(2000, 16, nClusters).localCheckpoint(true)
    HnswIndex.build(base, "vec_id", "embedding", nCells = nClusters, dir,
      m = 4, efConstruction = 24, pqM = 4)
    assert(HnswIndex.update(base, "vec_id", "embedding", dir) == "noop")
    // confined 5% batch -> append path; pq schema must survive
    val extra = clusteredCorpus(2800, 16, nClusters)
      .filter(col("vec_id") >= 2000 && col("vec_id") % nClusters === 0)
      .localCheckpoint(true)
    assert(HnswIndex.update(extra, "vec_id", "embedding", dir) == "append")
    val cols = spark.read.parquet(HnswIndex.Paths(dir).graph).columns.toSet
    assert(cols.contains("_codes") && cols.contains("_q") && !cols.contains("_v"),
      s"append lost the pq storage schema: $cols")
    val union = base.unionByName(extra).localCheckpoint(true)
    val q = queriesOf(union, 10L)
    val got = HnswIndex.searchPq(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = nClusters, window = Int.MaxValue)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = reconExact(union, q, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    // 30%-rule rebuild retrains codebooks; parity again
    val big = clusteredCorpus(4100, 16, nClusters)
      .filter(col("vec_id") >= 3100).localCheckpoint(true)
    assert(HnswIndex.update(big, "vec_id", "embedding", dir) == "rebuild")
    val all = union.unionByName(big).localCheckpoint(true)
    val q2 = queriesOf(all, 10L)
    val got2 = HnswIndex.searchPq(spark, dir, q2, k = 5,
        efSearch = Int.MaxValue, nProbe = nClusters, window = Int.MaxValue)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want2 = reconExact(all, q2, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got2 == want2)
    HnswIndex.evict(dir)
  }

  test("mid-maintenance: resident rerank keeps serving the resident generation; disk rerank fails fast") {
    val dir = tmp("midmaint")
    val emb = clusteredCorpus(1200, 16, 6).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 6, dir,
      m = 4, efConstruction = 24, pqM = 4)
    val q = queriesOf(emb, 8L).localCheckpoint(true)
    def resident() = HnswIndex.searchPq(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 6, window = Int.MaxValue,
        residentRerank = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val committed = resident() // warms the generation-keyed caches
    // simulate update()'s maintenance window: metadata.json deleted first
    val marker = new java.io.File(s"$dir/metadata.json")
    assert(marker.delete(), "commit marker should exist after build")
    // the resident form serves the resident old generation, consistent
    assert(resident() == committed)
    // the disk-rerank form would read graph.parquet under a concurrent
    // partition overwrite — it must refuse, not rerank a torn mix
    val e = intercept[IllegalArgumentException] {
      HnswIndex.searchPq(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 6, window = Int.MaxValue,
        residentRerank = false).collect()
    }
    assert(e.getMessage.contains("mid-maintenance"))
    HnswIndex.evict(dir)
  }

  test("mid-maintenance: resident rerank refuses when ITS store variant was never resident") {
    val dir = tmp("variant")
    val emb = clusteredCorpus(1200, 16, 6).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 6, dir,
      m = 4, efConstruction = 24, pqM = 4)
    val q = queriesOf(emb, 8L).localCheckpoint(true)
    // warm ONLY the codes-only variant (disk-rerank form): the #store
    // variant the resident rerank needs is never resident
    HnswIndex.searchPq(spark, dir, q, k = 5, efSearch = Int.MaxValue,
      nProbe = 6, window = Int.MaxValue).collect()
    val marker = new java.io.File(s"$dir/metadata.json")
    assert(marker.delete(), "commit marker should exist after build")
    // accepting the codes-only generation here would send the #store
    // loader to graph.parquet COLD, under the concurrent partition
    // overwrite the maintenance window implies — it must refuse instead
    val e = intercept[IllegalStateException] {
      HnswIndex.searchPq(spark, dir, q, k = 5, efSearch = Int.MaxValue,
        nProbe = 6, window = Int.MaxValue, residentRerank = true).collect()
    }
    assert(e.getMessage.contains("not resident"))
    HnswIndex.evict(dir)
  }

  test("truncated metadata is refused loudly, not parsed as a pqM=0 index") {
    val dir = tmp("torn")
    val emb = clusteredCorpus(600, 16, 3).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 3, dir,
      m = 4, efConstruction = 24, pqM = 4)
    // truncate metadata.json mid-object — the torn shape a crashed
    // non-atomic writer would have left (pq fields cut off)
    val metaFile = new java.io.File(s"$dir/metadata.json")
    val full = new String(java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    val cut = full.substring(0, full.indexOf("\"pq_m\""))
    java.nio.file.Files.write(metaFile.toPath, cut.getBytes("UTF-8"))
    // the local fs keeps a checksum sidecar; drop it so the read sees
    // the truncated bytes rather than a checksum error
    new java.io.File(s"$dir/.metadata.json.crc").delete()
    HnswIndex.evict(dir)
    val q = queriesOf(emb, 4L).localCheckpoint(true)
    val e = intercept[IllegalStateException] {
      HnswIndex.searchPq(spark, dir, q, k = 5, efSearch = Int.MaxValue,
        nProbe = 3, window = Int.MaxValue).collect()
    }
    assert(e.getMessage.contains("truncated"))
    HnswIndex.evict(dir)
  }

  test("the exact-store search() path still serves a pq artifact (int8 semantics)") {
    val dir = tmp("compat")
    val emb = clusteredCorpus(1200, 16, 6).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 6, dir,
      m = 4, efConstruction = 24, pqM = 4)
    val q = queriesOf(emb, 8L)
    val got = HnswIndex.search(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val want = reconExact(emb, q, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    HnswIndex.evict(dir)
  }
}
