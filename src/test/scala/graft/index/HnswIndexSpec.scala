package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.functions.{VectorFunctions => VF}

/** Gate for X131 per-cell HNSW. The exactness contract is the q56
  * device: an exhaustively-probed search (nProbe = nCells,
  * efSearch ≥ cell size) must reproduce the brute-force cosine top-k
  * BIT-FOR-BIT — rounding, NaN placement and tie order included —
  * which is what lets q124 share q18's DuckDB oracle. The approximate
  * configuration's recall is measured, not assumed. */
class HnswIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dataDir = "/root/testdata/sf0.001"

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_hnsw_$tag").toString + "/hnsw"

  /** Clustered corpus (the recall contract's input class — same shape
    * as the bench's pruned-ANN corpus): per-cluster center + noise. */
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

  test("exhaustive probe reproduces brute-force top-k bit-for-bit on real embeddings") {
    val dir = tmp("exact")
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, dir,
      m = 6, efConstruction = 40)
    val q = queriesOf(emb, 10L)
    def collected(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rnk").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    val got = collected(HnswIndex.search(spark, dir, q, k = 5,
      efSearch = Int.MaxValue, nProbe = 8))
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val want = collected(graft.operators.Similarity.topKExact(q, corpus, 5))
    assert(got.length == want.length && got.length == 50)
    assert(got.sameElements(want))
  }

  test("approximate configuration: recall@10 >= 0.9 on a clustered corpus, at a fraction of the sims") {
    val dir = tmp("recall")
    val emb = clusteredCorpus(4000, 32, 16).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 16, dir,
      m = 8, efConstruction = 64)
    val q = queriesOf(emb, 40L).localCheckpoint(true)
    val approx = HnswIndex.search(spark, dir, q, k = 10, efSearch = 64, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(q, corpus, 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("build is deterministic: two builds of the same corpus are row-identical") {
    val emb = clusteredCorpus(600, 16, 4).localCheckpoint(true)
    def rowsOf(dir: String) = {
      HnswIndex.build(emb, "vec_id", "embedding", nCells = 4, dir,
        m = 4, efConstruction = 24)
      spark.read.parquet(HnswIndex.Paths(dir).graph)
        .select(col("cell_id").cast("int"), col("_id"), col("top_layer"),
          col("nbrs").cast("string"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getString(3)))
        .sortBy(t => (t._1, t._2))
    }
    val a = rowsOf(tmp("det_a"))
    val b = rowsOf(tmp("det_b"))
    assert(a.sameElements(b))
  }

  test("degree caps hold and layer 0 is backbone-connected in every cell") {
    val dir = tmp("caps")
    val m = 4
    val emb = clusteredCorpus(1200, 16, 6).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 6, dir,
      m = m, efConstruction = 32)
    val rows = spark.read.parquet(HnswIndex.Paths(dir).graph)
      .select(col("cell_id").cast("int"), col("_id"), col("nbrs"))
      .as[(Int, Long, Seq[Seq[Int]])].collect()
    assert(rows.length == 1200)
    rows.foreach { case (_, _, nbrs) =>
      nbrs.zipWithIndex.foreach { case (lst, layer) =>
        val cap = if (layer == 0) 2 * m + 2 else m // +2: backbone exemption
        assert(lst.length <= cap, s"layer $layer degree ${lst.length} > $cap")
        assert(lst.distinct.length == lst.length, "duplicate edge")
      }
    }
    rows.groupBy(_._1).foreach { case (cell, cellRows) =>
      val sorted = cellRows.sortBy(_._2)
      val n = sorted.length
      val adj0 = sorted.map(_._3.head.toArray)
      val seen = new java.util.BitSet(n)
      val stack = new java.util.ArrayDeque[Int]()
      seen.set(0); stack.push(0)
      while (!stack.isEmpty) {
        val cur = stack.pop()
        adj0(cur).foreach { nb =>
          if (!seen.get(nb)) { seen.set(nb); stack.push(nb) }
        }
      }
      assert(seen.cardinality() == n,
        s"cell $cell: ${seen.cardinality()}/$n reachable at layer 0")
    }
  }

  test("more probes never lose recall; exhaustive recall is 1.0") {
    val dir = tmp("mono")
    val emb = clusteredCorpus(2000, 24, 8).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, dir,
      m = 6, efConstruction = 48)
    val q = queriesOf(emb, 20L).localCheckpoint(true)
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(q, corpus, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(nProbe: Int, ef: Int): Double = {
      val got = HnswIndex.search(spark, dir, q, k = 5, efSearch = ef, nProbe = nProbe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (got & exact).size.toDouble / exact.size
    }
    val low = recallAt(2, 32)
    val high = recallAt(8, Int.MaxValue)
    assert(high == 1.0, s"exhaustive recall = $high")
    assert(high >= low)
  }

  test("update: noop on resubmission, touched-cells-only append, 30%-rule rebuild — exhaustive parity holds throughout") {
    val dir = tmp("upd")
    val base = clusteredCorpus(2000, 16, 8).localCheckpoint(true)
    HnswIndex.build(base, "vec_id", "embedding", nCells = 8, dir,
      m = 6, efConstruction = 32)

    assert(HnswIndex.update(base, "vec_id", "embedding", dir) == "noop")

    def graphFiles(): Map[String, Long] = {
      val root = new java.io.File(new java.net.URI("file://" + HnswIndex.Paths(dir).graph))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified())).toMap
    }
    val before = graphFiles()

    // 100 new vectors (5% < 30%), ALL in cluster 0 so most cells stay
    // untouched: append path rewrites only the touched partitions
    val extra = clusteredCorpus(2800, 16, 8)
      .filter(col("vec_id") >= 2000 && col("vec_id") % 8 === 0)
      .localCheckpoint(true)
    assert(HnswIndex.update(extra, "vec_id", "embedding", dir) == "append")
    val after = graphFiles()
    val untouchedSurvivors = before.filter { case (path, mtime) =>
      after.get(path).contains(mtime)
    }
    assert(untouchedSurvivors.nonEmpty,
      "append rewrote every cell partition — not touched-cells-only")

    // exhaustive parity over the UNION corpus after the append
    val union = base.unionByName(extra).localCheckpoint(true)
    val q = queriesOf(union, 15L)
    val got = HnswIndex.search(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus = union.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val want = graft.operators.Similarity.topKExact(q, corpus, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)

    // 1000 more (≈ 48% > 30%), id range disjoint from both earlier
    // batches: rebuild path; parity again
    val big = clusteredCorpus(4100, 16, 8)
      .filter(col("vec_id") >= 3100).localCheckpoint(true)
    assert(HnswIndex.update(big, "vec_id", "embedding", dir) == "rebuild")
    val all = union.unionByName(big).localCheckpoint(true)
    val q2 = queriesOf(all, 15L)
    val got2 = HnswIndex.search(spark, dir, q2, k = 5,
        efSearch = Int.MaxValue, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus2 = all.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val want2 = graft.operators.Similarity.topKExact(q2, corpus2, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got2 == want2)
  }

  test("soak: eight sequential cluster-confined appends stay touched-cells-only; parity and connectivity hold at the end") {
    val dir = tmp("soak")
    val nClusters = 8
    // base: ids 0..1999; append batch b adds 25 ids all in cluster b
    val world = clusteredCorpus(6000, 16, nClusters).localCheckpoint(true)
    val base = world.filter(col("vec_id") < 2000).localCheckpoint(true)
    HnswIndex.build(base, "vec_id", "embedding", nCells = nClusters, dir,
      m = 4, efConstruction = 24)
    def graphFiles(): Map[String, Long] = {
      val root = new java.io.File(new java.net.URI("file://" + HnswIndex.Paths(dir).graph))
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isFile) Seq(f)
        else Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified())).toMap
    }
    var kept = base
    for (b <- 0 until 8) {
      val lo = 2000 + b * 200
      val batch = world
        .filter(col("vec_id") >= lo && col("vec_id") < lo + 200 &&
          col("vec_id") % nClusters === b)
        .localCheckpoint(true) // 25 ids, all cluster b
      val before = graphFiles()
      assert(HnswIndex.update(batch, "vec_id", "embedding", dir) == "append",
        s"batch $b was not an append")
      val after = graphFiles()
      val untouched = before.count { case (p, t) => after.get(p).contains(t) }
      assert(untouched > 0, s"batch $b rewrote every cell partition")
      kept = kept.unionByName(batch)
    }
    kept = kept.localCheckpoint(true)
    // exhaustive parity over the accumulated corpus
    val q = queriesOf(kept, 12L)
    val got = HnswIndex.search(spark, dir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val corpus = kept.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val want = graft.operators.Similarity.topKExact(q, corpus, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    // every cell stays backbone-connected after the soak
    val rows = spark.read.parquet(HnswIndex.Paths(dir).graph)
      .select(col("cell_id").cast("int"), col("_id"), col("nbrs"))
      .as[(Int, Long, Seq[Seq[Int]])].collect()
    rows.groupBy(_._1).foreach { case (cell, cellRows) =>
      val sorted = cellRows.sortBy(_._2)
      val n = sorted.length
      val adj0 = sorted.map(_._3.head.toArray)
      val seen = new java.util.BitSet(n)
      val stack = new java.util.ArrayDeque[Int]()
      seen.set(0); stack.push(0)
      while (!stack.isEmpty) {
        val cur = stack.pop()
        adj0(cur).foreach { nb =>
          if (!seen.get(nb)) { seen.set(nb); stack.push(nb) }
        }
      }
      assert(seen.cardinality() == n,
        s"cell $cell after soak: ${seen.cardinality()}/$n reachable")
    }
  }

  test("int8 storage: exhaustive search is exact over the reconstructed corpus, near-exact over the original, at a fraction of the bytes") {
    def bytesUnder(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      walk(new java.io.File(new java.net.URI("file://" + dir)))
    }
    val emb = clusteredCorpus(2000, 32, 8).localCheckpoint(true)
    val plainDir = tmp("q_plain")
    val quantDir = tmp("q_int8")
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, plainDir,
      m = 6, efConstruction = 32)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 8, quantDir,
      m = 6, efConstruction = 32, quantized = true)
    val plainBytes = bytesUnder(HnswIndex.Paths(plainDir).graph)
    val quantBytes = bytesUnder(HnswIndex.Paths(quantDir).graph)
    assert(quantBytes < plainBytes / 2,
      s"int8 graph $quantBytes B vs float64 $plainBytes B — expected < 0.5×")

    val q = queriesOf(emb, 15L).localCheckpoint(true)
    val got = HnswIndex.search(spark, quantDir, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 8)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .as[(Long, Long, Double)].collect().toSet
    // oracle: brute force over the RECONSTRUCTED corpus — what the
    // store ranks with must be exactly what dequantization yields
    import graft.functions.{VectorFunctions => VF2}
    val vd = VF2.vecAsDouble(col("embedding"))
    val qs = VF2.int8Scale(vd)
    val recon = emb.select(col("vec_id").as("neighbor_id"),
      when(qs.isNotNull, VF2.dequantizeInt8(VF2.quantizeInt8(vd, qs), qs))
        .otherwise(vd).as("nv"))
    val want = graft.operators.Similarity.topKExact(q, recon, 5)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, "quantized exhaustive search != exact over reconstructed corpus")

    // and against the ORIGINAL floats the distortion stays sub-1%: recall bound
    val trueExact = graft.operators.Similarity.topKExact(q,
        emb.select(col("vec_id").as("neighbor_id"), vd.as("nv")), 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val gotPairs = got.map(t => (t._1, t._2))
    val recall = (gotPairs & trueExact).size.toDouble / trueExact.size
    assert(recall >= 0.95, s"int8 recall vs original corpus = $recall")

    // maintenance preserves the int8 schema and the exactness contract
    val extra = clusteredCorpus(2800, 32, 8)
      .filter(col("vec_id") >= 2000 && col("vec_id") % 8 === 1)
      .localCheckpoint(true)
    assert(HnswIndex.update(extra, "vec_id", "embedding", quantDir) == "append")
    val cols = spark.read.parquet(HnswIndex.Paths(quantDir).graph).columns.toSet
    assert(cols.contains("_q") && cols.contains("_qs") && !cols.contains("_v"),
      s"append must keep int8 storage, got $cols")
  }

  test("degenerate sizes: more cells than vectors, single-node cells, and a self-only corpus all serve exactly") {
    // 5 vectors across 8 requested cells -> single-node and empty cells
    val tiny = clusteredCorpus(5, 8, 3).localCheckpoint(true)
    val dir = tmp("tiny")
    HnswIndex.build(tiny, "vec_id", "embedding", nCells = 8, dir,
      m = 4, efConstruction = 16)
    val q = queriesOf(tiny, 5L)
    val got = HnswIndex.search(spark, dir, q, k = 3,
        efSearch = Int.MaxValue, nProbe = 8)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    val corpus = tiny.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"))
    val want = graft.operators.Similarity.topKExact(q, corpus, 3)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == want)

    // single-vector corpus: the only candidate is the query itself,
    // so the result is empty on both paths
    val one = clusteredCorpus(1, 8, 1).localCheckpoint(true)
    val dir1 = tmp("one")
    HnswIndex.build(one, "vec_id", "embedding", nCells = 1, dir1,
      m = 4, efConstruction = 16)
    val q1 = queriesOf(one, 1L)
    assert(HnswIndex.search(spark, dir1, q1, k = 3,
      efSearch = Int.MaxValue, nProbe = 1).count() == 0)
  }

  test("serve-during-update: concurrent searches see a consistent old-or-new generation, never a mix or an error") {
    val dir = tmp("race")
    val nClusters = 4
    val base = clusteredCorpus(1200, 16, nClusters).localCheckpoint(true)
    HnswIndex.build(base, "vec_id", "embedding", nCells = nClusters, dir,
      m = 4, efConstruction = 24)
    // confined batch -> append path (partition overwrite + marker cycle)
    val batch = clusteredCorpus(1500, 16, nClusters)
      .filter(col("vec_id") >= 1200 && col("vec_id") % nClusters === 0)
      .localCheckpoint(true)
    val q = queriesOf(base, 6L).localCheckpoint(true)
    def exactOf(corpus: org.apache.spark.sql.DataFrame) = {
      val c = corpus.select(col("vec_id").as("neighbor_id"),
        VF.vecAsDouble(col("embedding")).as("nv"))
      graft.operators.Similarity.topKExact(q, c, 5)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    }
    val oldWant = exactOf(base)
    val newWant = exactOf(base.unionByName(batch).localCheckpoint(true))
    def served(): Set[(Long, Long)] =
      HnswIndex.search(spark, dir, q, k = 5, efSearch = Int.MaxValue,
        nProbe = nClusters)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    // make the initial generation RESIDENT (the serving pattern: a loop
    // that has served a batch holds that generation in the cache)
    assert(served() == oldWant)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var stop = false
    val hammer = new Thread(() => {
      while (!stop) {
        try {
          val got = served()
          outcomes.add(
            if (got == oldWant) "old"
            else if (got == newWant) "new"
            else "mix")
        } catch { case e: Throwable => errors.add(e); stop = true }
      }
    })
    hammer.start()
    try assert(HnswIndex.update(batch, "vec_id", "embedding", dir) == "append")
    finally { stop = true; hammer.join(60000) }
    assert(errors.isEmpty, s"search failed during update: ${errors.peek()}")
    val seen = outcomes.toArray(Array.empty[String]).toSeq
    assert(seen.nonEmpty && !seen.contains("mix"),
      s"inconsistent generation served during update: $seen")
    // once old has flipped to new, it never flips back
    val flips = seen.zip(seen.drop(1)).count { case (a, b) => a != b }
    assert(flips <= 1, s"generation flapped: $seen")
    // after the update commits, serving converges on the new generation
    assert(served() == newWant)
  }

  test("a legacy artifact (pre-marker vintage, no pq fields) is adopted, not refused") {
    val dir = tmp("legacy")
    val emb = clusteredCorpus(300, 8, 2).localCheckpoint(true)
    HnswIndex.build(emb, "vec_id", "embedding", nCells = 2, dir,
      m = 4, efConstruction = 16)
    val q = queriesOf(emb, 3L)
    val want = HnswIndex.search(spark, dir, q, k = 3,
        efSearch = Int.MaxValue, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    HnswIndex.evict(dir)
    // rewrite the metadata to the pre-pq vintage: no pq fields. Such an
    // artifact still has its metadata.json, so it reads as published
    val metaPath = java.nio.file.Paths.get(
      new java.net.URI("file://" + HnswIndex.Paths(dir).metadata))
    java.nio.file.Files.write(metaPath,
      ("""{"n_vectors": 300, "n_cells": 2, "m": 4, """ +
        """"ef_construction": 16, "seed": 42, "metric": "cosine"}""").getBytes("UTF-8"))
    // the NIO write bypassed hadoop's ChecksumFileSystem — drop the
    // stale .crc sidecar or the next hadoop read fails verification
    java.nio.file.Files.deleteIfExists(
      metaPath.resolveSibling("." + metaPath.getFileName + ".crc"))
    // search serves the same results instead of refusing a healthy artifact
    val got = HnswIndex.search(spark, dir, q, k = 3,
        efSearch = Int.MaxValue, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    // update() on the legacy artifact proceeds under normal discipline
    assert(HnswIndex.update(emb, "vec_id", "embedding", dir) == "noop")
    HnswIndex.evict(dir)
  }
}
