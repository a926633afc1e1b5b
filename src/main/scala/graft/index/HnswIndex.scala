package graft.index

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.Json
import graft.expressions.CellKernels
import graft.operators.{Guards, Similarity, SimilarityKernels}

/** X131 — graph-based ANN: an HNSW graph per IVF cell, stored
  * relationally (reference: indexing/faiss_builder.py:60-147 builds a
  * FAISS HNSW index as a single-process artifact; here the graph is a
  * parquet table partitioned by `cell_id`, so build, load and serving
  * are ordinary distributed Spark jobs).
  *
  * Shape: the corpus is coarse-quantized with the SAME trainer the IVF
  * index uses ([[Similarity.trainIvfCentroids]]), then each cell's
  * vectors get an in-memory HNSW graph built in one `flatMapGroups`
  * pass — cells build in parallel across executors, nothing
  * corpus-sized ever sits on one node (a cell must fit an executor,
  * the exact constraint the IVF cell layout already carries). Serving
  * routes each query to its nProbe nearest cells (same routing kernel
  * as IVF) and beam-searches only those cells' resident graphs;
  * candidates from all probed cells merge through the bounded-heap
  * [[Similarity.perQueryTopK]]. One bounded shuffle per batch — the
  * ≤ k rows per (query, cell) feeding the final top-k — exactly the
  * IVF search's shape; the graph's win over the IVF cell scan is
  * inside the cell: ~ef·log(cellN)·degree distance computations
  * instead of cellN.
  *
  * Determinism: node levels come from a splitmix64 hash of (seed, id),
  * insertion order is id-ascending, and every tie in the build and the
  * search breaks on (sim desc, position asc) — two builds of the same
  * corpus produce row-identical graphs, so specs can pin the artifact.
  *
  * Exactness gate (the q56 device, q124): layer-0 adjacency always
  * keeps a "backbone" edge between insertion neighbors (pos ↔ pos−1,
  * exempt from degree pruning), so every cell graph is connected by
  * construction. A search with nProbe = nCells and efSearch ≥ cell
  * size therefore visits EVERY node and must reproduce the q18
  * brute-force oracle bit-for-bit — the in-cell kernels replay
  * [[graft.expressions.VecDotD]]'s accumulation order exactly, and
  * rounding happens in the Spark plan (`round(sim, 6)`), never in
  * executor-side Scala, so cosine values are bit-identical to the
  * exact path's.
  */
object HnswIndex {

  final case class Paths(dir: String) {
    def centroids: String = s"$dir/centroids.parquet"
    def graph: String = s"$dir/graph.parquet"
    def codebooks: String = s"$dir/codebooks.parquet"
    def metadata: String = IndexArtifact.metadataPath(dir)
    def staging: String = IndexArtifact.stagingPath(dir)
  }

  /** `pqM == 0` ⇒ no PQ codes stored (float / int8 storage only). */
  private[index] final case class Meta(n: Long, nCells: Int, m: Int,
      efConstruction: Int, seed: Long, pqM: Int, pqK: Int)

  private def readMetadata(spark: SparkSession, p: Paths): Meta = {
    val meta = IndexArtifact.readMetadata(spark, p.dir)
    def field(name: String): JsonNode = Option(meta.get(name)).getOrElse(
      throw new IllegalStateException(s"metadata at ${p.metadata} lacks $name"))
    // optional: artifacts written before PQ support have no pq fields
    Meta(field("n_vectors").asLong, field("n_cells").asInt, field("m").asInt,
      field("ef_construction").asInt, field("seed").asLong,
      meta.path("pq_m").asInt(0), meta.path("pq_k").asInt(256))
  }

  /** One indexed vector: `nbrs(layer)` holds neighbor POSITIONS within
    * the cell's id-sorted order (compact, O(1) to walk at load). */
  private[index] final case class NodeRow(cell_id: Int, _id: Long,
      _v: Seq[Double], _nn: Double, top_layer: Int, nbrs: Seq[Seq[Int]])

  /** A whole cell's graph in CSR form — flat primitive arrays only, so
    * the encoder stays simple and the search walk never boxes.
    * Adjacency of (pos, layer): segment `nodeBase(pos) + layer` of
    * `adjData`, bounds `adjOff(seg) until adjOff(seg + 1)`. */
  private[graft] final case class CellGraph(cellId: Int, ids: Array[Long],
      norms: Array[Double], topLayer: Array[Int], dim: Int,
      vecs: Array[Double], // flattened row-major: node pos * dim
      nodeBase: Array[Int], // per node: first layer-segment index; length n+1
      adjOff: Array[Int], // per layer-segment: offset into adjData
      adjData: Array[Int], // concatenated neighbor position lists
      entry: Int, maxLevel: Int) {
    def n: Int = ids.length
  }

  /** PQ serving form of a cell: m CODE BYTES + one reconstructed norm
    * per node instead of 8·dim vector bytes. Two residency variants:
    * codes-only (qcodes empty — the int8 store stays on DISK for the
    * rerank; minimum footprint, m+8 B/node) and resident-rerank
    * (qcodes/qscale/nn loaded — the beam's window reranks EXACTLY
    * in-cell with no per-batch store IO; m+dim+24 B/node, still ~5×
    * below the float form's 8·dim). */
  private[graft] final case class CellGraphPq(cellId: Int, ids: Array[Long],
      rn: Array[Double], m: Int,
      codes: Array[Byte], // flattened row-major: node pos * m
      dim: Int,
      qcodes: Array[Byte], // resident int8 store (pos * dim); empty = on disk
      qscale: Array[Double], // per-node dequant scale; 0.0 = zero vector
      nn: Array[Double], // per-node snapped-vector norm (exact-sim denominator)
      nodeBase: Array[Int], adjOff: Array[Int], adjData: Array[Int],
      entry: Int, maxLevel: Int) {
    def n: Int = ids.length
  }

  // ---------------------------------------------------------------- build

  /** Build and persist: train/assign through the shared IVF trainer,
    * then build one HNSW graph per cell in a single grouped pass. Each
    * cell lands whole in one task (hash partitioning on the group key
    * never splits a key), so the per-cell builder is plain in-memory
    * Scala and the output keeps one file per cell directory. */
  /** `pqM > 0` adds m-byte PQ codes beside the (then mandatory) int8
    * exact store — FAISS's HNSW-over-PQ composition: the graph is built
    * and persisted exactly as in int8 mode (structure from the snapped
    * vectors, codes from residual codebooks trained through
    * [[PqIndex.trainCodebooks]]), [[searchPq]] beam-searches on the
    * codes and reranks its shortlist against the int8 store.
    *
    * Returns the vector count. The artifact is unpublished throughout
    * ([[IndexArtifact]]). */
  def build(vectors: DataFrame, idCol: String, vecCol: String, nCells: Int,
      outDir: String, m: Int = 8, efConstruction: Int = 64,
      seed: Long = 42L, quantized: Boolean = false,
      pqM: Int = 0, pqK: Int = 256): Long = {
    val p = Paths(outDir)
    val spark = vectors.sparkSession
    IndexArtifact.unpublish(spark, outDir)
    val n = vectors.count()
    val cents = Similarity.trainIvfCentroids(
      vectors, idCol, vecCol, nCells, knownN = Some(n))
    cents.write.mode("overwrite").parquet(p.centroids)
    val assigned = Similarity.assignToNearest(
      vectors.select(col(idCol).as("_id"),
        graft.functions.VectorFunctions.vecAsDouble(col(vecCol)).as("_v")),
      cents)
    val useQuant = quantized || pqM > 0
    val buildInput = if (useQuant) snapToGrid(assigned) else assigned
    val nodes = graphNodes(buildInput, m, efConstruction, seed,
      hintCells = nCells)
    val stored =
      if (pqM > 0) {
        val (cellIds, centArr) = loadedCentroids(cents)
        val posOf = cellIds.zipWithIndex.toMap
        val model = PqIndex.trainCodebooks(
          buildInput.withColumn("_cp",
            element_at(typedlit(posOf), col("cell_id"))),
          pqM, pqK, centArr, knownN = Some(n))
        saveCodebooks(spark, p, model)
        quantizedStorage(withPqCodes(nodes, posOf, centArr, model))
      } else if (useQuant) quantizedStorage(nodes)
      else nodes
    stored.write.mode("overwrite").partitionBy("cell_id").parquet(p.graph)
    publishMetadata(spark, p, Meta(n, nCells, m, efConstruction, seed, pqM, pqK))
    n
  }

  private def loadedCentroids(cents: DataFrame): (Seq[Int], Array[Array[Double]]) = {
    val rows = cents.select(col("cell_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2))
  }

  /** Attach PQ residual codes + reconstructed norm to graph node rows —
    * one map-only codegen pass ([[graft.expressions.PqExprs.pq_encode]]),
    * same encode the IVF-PQ index uses. */
  private def withPqCodes(nodes: DataFrame, posOf: Map[Int, Int],
      centArr: Array[Array[Double]], model: PqIndex.PqModel): DataFrame =
    nodes
      .withColumn("_cp", element_at(typedlit(posOf), col("cell_id")))
      .withColumn("_e", graft.expressions.PqExprs.pq_encode(
        col("_v"), col("_cp"), centArr, model.codebooks))
      .withColumn("_codes", col("_e.codes"))
      .withColumn("_rn", col("_e.rnorm"))
      .drop("_e", "_cp")

  private def saveCodebooks(spark: SparkSession, p: Paths,
      model: PqIndex.PqModel): Unit = {
    import spark.implicits._
    (for { j <- 0 until model.m; c <- 0 until model.k }
      yield (j, c, model.codebooks(j)(c).toSeq))
      .toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(p.codebooks)
  }

  private def loadPqModel(spark: SparkSession, p: Paths, meta: Meta): PqIndex.PqModel = {
    val rows = spark.read.parquet(p.codebooks)
      .select(col("subspace"), col("code"), col("centroid")).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val dsub = rows.head._2.length
    val cb = Array.tabulate(meta.pqM, meta.pqK)((j, c) => rows((j, c)))
    PqIndex.PqModel(meta.pqM, dsub, meta.pqK, cb)
  }

  /** int8 storage, build side: the graph is built on the RECONSTRUCTED
    * vectors (the IVF store's principle — ranking must be consistent
    * with what serving dequantizes). Quantizing a reconstructed vector
    * is idempotent (values sit on the k·scale grid), so
    * [[quantizedStorage]] later reproduces the exact codes the build
    * ranked with. */
  private def snapToGrid(assigned: DataFrame): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    assigned
      .withColumn("_qs", VF.int8Scale(col("_v")))
      .withColumn("_v", when(col("_qs").isNotNull,
        VF.dequantizeInt8(VF.quantizeInt8(col("_v"), col("_qs")), col("_qs")))
        .otherwise(col("_v"))) // zero vector reconstructs as itself
      .drop("_qs")
  }

  /** int8 storage, output side: node rows keep (_q, _qs) instead of the
    * float64 `_v` — ~7× less graph IO and resident-cache footprint. */
  private def quantizedStorage(nodes: DataFrame): DataFrame = {
    import graft.functions.{VectorFunctions => VF}
    nodes
      .withColumn("_qs", VF.int8Scale(col("_v")))
      .withColumn("_q", when(col("_qs").isNotNull,
        VF.quantizeInt8(col("_v"), col("_qs")))
        .otherwise(transform(col("_v"), x => lit(0).cast("tinyint"))))
      .drop("_v")
  }

  /** One partitioned pass: (cell_id, _id, _v) rows in, graph node rows
    * out. Shared by [[build]] (all cells) and [[update]] (touched
    * cells).
    *
    * A cell build is a long CPU-bound task (10⁵-vector cells run ~20 s
    * each), so the exchange layout decides wall-clock: the old
    * lambda-keyed groupByKey always HASH-shuffled at the session
    * width, where a handful of heavy cells birthday-collide into
    * shared tasks and serialize (the r13 probe's 20-cell build lost
    * ~2-3× to exactly this — and no hash width fixes it without
    * exploding the shuffle-segment count for the many-small-cells
    * regime). `hintCells > 0` RANGE-partitions on cell_id into one
    * partition per cell instead: same-key rows never split across
    * ranges, so each task builds ~one whole cell, at exactly hint
    * partitions. The sampling pass range partitioning costs is noise
    * next to the build. Rows arrive sorted by (cell_id, _id) — id
    * order IS the canonical position order, so no per-group sort or
    * materialized tuple array is needed. */
  private def graphNodes(assigned: DataFrame, m: Int, efConstruction: Int,
      seed: Long, hintCells: Int = 0): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val mm = m
    val efc = efConstruction
    val sd = seed
    val keyed = assigned.select(col("cell_id").cast("int"), col("_id"), col("_v"))
    val spread =
      if (hintCells <= 0)
        keyed.repartition(col("cell_id"))
      else keyed.repartitionByRange(math.max(1, hintCells), col("cell_id"))
    spread
      .sortWithinPartitions("cell_id", "_id")
      .as[(Int, Long, Seq[Double])]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[NodeRow] {
          private var out: Iterator[NodeRow] = Iterator.empty
          def hasNext: Boolean = out.hasNext || buf.hasNext
          def next(): NodeRow = {
            if (!out.hasNext) {
              val cell = buf.head._1
              val rows = mutable.ArrayBuffer.empty[(Long, Seq[Double])]
              while (buf.hasNext && buf.head._1 == cell) {
                val r = buf.next()
                rows += ((r._2, r._3))
              }
              val dim = if (rows.isEmpty) 0 else rows.head._2.length
              val b = new CellBuilder(dim, mm, efc, sd, rows.length)
              var i = 0
              while (i < rows.length) {
                b.add(rows(i)._1, rows(i)._2.toArray); i += 1
              }
              b.buildAll()
              out = rows.indices.iterator.map { pos =>
                NodeRow(cell, b.ids(pos), rows(pos)._2, b.norms(pos),
                  b.topLayer(pos), b.adjSeq(pos))
              }
            }
            out.next()
          }
        }
      }
      .toDF()
  }

  /** Incremental update — the IVF index's V6 contract (anti-join new
    * ids; full rebuild past the 30% ratio; reference
    * incremental.py:39-276), adapted to a graph artifact: a graph cell
    * is a STRUCTURE, not a bag of rows, so the append path rebuilds
    * exactly the TOUCHED cells (existing members ∪ new arrivals, same
    * deterministic id-order construction — a touched cell's graph is
    * row-identical to what a fresh build of that cell's vector set
    * produces) and replaces only those partitions via dynamic partition
    * overwrite. Untouched cells keep their files; cost is
    * O(touched cells), never O(corpus). Returns
    * "append" | "rebuild" | "noop". */
  def update(vectors: DataFrame, idCol: String, vecCol: String,
      outDir: String): String = {
    val spark = vectors.sparkSession
    val p = Paths(outDir)
    IndexArtifact.published(spark, outDir)
    val meta = readMetadata(spark, p)
    val existingRaw = spark.read.parquet(p.graph)
    val isQuant = existingRaw.columns.contains("_q")
    val existing = IndexArtifact.restored(existingRaw)
      .select(col("cell_id").cast("int"), col("_id"), col("_v"))
    val fresh = vectors.join(
      existing.select(col("_id").as(idCol)), Seq(idCol), "left_anti").cache()
    try {
      val nNew = fresh.count()
      if (nNew == 0) return "noop"
      val nExisting = meta.n
      if (nExisting == 0 || nNew.toDouble / nExisting > VectorIndex.RebuildRatio) {
        // stage the union to reliable storage BEFORE build() overwrites
        // the artifact it is derived from (same crash discipline as the
        // IVF rebuild: an executor-local copy would be recomputed from
        // the very files the overwrite deletes)
        existing.select(col("_id").as(idCol), col("_v").as(vecCol))
          .unionByName(fresh.select(col(idCol),
            graft.functions.VectorFunctions.vecAsDouble(col(vecCol)).as(vecCol)))
          .write.mode("overwrite").parquet(p.staging)
        // a PQ rebuild retrains codebooks too — enough new mass to shift
        // both quantizers, the PqIndex.update convention
        build(spark.read.parquet(p.staging), idCol, vecCol, meta.nCells,
          outDir, meta.m, meta.efConstruction, meta.seed, quantized = isQuant,
          pqM = meta.pqM, pqK = meta.pqK)
        IndexArtifact.dropStaged(spark, p.staging)
        "rebuild"
      } else {
        val assignedNew = Similarity.assignToNearest(
          fresh.select(col(idCol).as("_id"),
            graft.functions.VectorFunctions.vecAsDouble(col(vecCol)).as("_v")),
          spark.read.parquet(p.centroids))
        // the touched-cell list is bounded by nCells (a model size)
        val touched = assignedNew.select("cell_id").distinct()
          .collect().map(_.getInt(0)).toSeq
        // stage the touched-cell member set FIRST: the rebuild below
        // overwrites the very partitions its input plan would otherwise
        // read (a read-under-overwrite), and the staged copy doubles as
        // the crash-recovery corpus for those cells. New arrivals snap
        // to the int8 grid here when the index is quantized (existing
        // members are grid-valued already — snapping is idempotent).
        val arrivals = assignedNew.select(col("cell_id"), col("_id"), col("_v"))
        existing.filter(col("cell_id").isin(touched: _*))
          .unionByName(if (isQuant) snapToGrid(arrivals) else arrivals)
          .write.mode("overwrite").parquet(p.staging)
        // staging is safe on disk — un-publish before the partition
        // overwrite mutates the artifact
        IndexArtifact.unpublish(spark, outDir)
        val nodes = graphNodes(spark.read.parquet(p.staging), meta.m,
          meta.efConstruction, meta.seed, hintCells = touched.length)
        // PQ append re-encodes the touched cells with the PERSISTED
        // codebooks — no retrain, exactly how FAISS add()s to a
        // trained index (rebuild is where codebooks refit)
        val stored =
          if (meta.pqM > 0) {
            val (cellIds, centArr) = loadedCentroids(spark.read.parquet(p.centroids))
            quantizedStorage(withPqCodes(nodes, cellIds.zipWithIndex.toMap,
              centArr, loadPqModel(spark, p, meta)))
          } else if (isQuant) quantizedStorage(nodes)
          else nodes
        // dynamic: only the touched cells' partitions are replaced; as a
        // write option it leaves the session's own setting alone
        stored.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell_id").parquet(p.graph)
        IndexArtifact.dropStaged(spark, p.staging)
        publishMetadata(spark, p, meta.copy(n = nExisting + nNew))
        "append"
      }
    } finally fresh.unpersist()
  }

  private def publishMetadata(spark: SparkSession, p: Paths, meta: Meta): Unit =
    IndexArtifact.publish(spark, p.dir, Json.obj().put("n_vectors", meta.n)
      .put("n_cells", meta.nCells).put("m", meta.m)
      .put("ef_construction", meta.efConstruction).put("seed", meta.seed)
      .put("pq_m", meta.pqM).put("pq_k", meta.pqK).put("metric", "cosine"))

  // ------------------------------------------------------------- serving

  /** Serving state is cached per artifact generation
    * ([[GenerationCache]]): a serving loop reads it on EVERY batch, and a
    * rebuild publishes a new generation whose first load evicts the
    * superseded entries. The loaded graph is a bounded number of
    * cell-sized rows, persisted as a grouped dataset; eviction
    * unpersists its executor blocks. */
  private val graphCache = new GenerationCache[Dataset[CellGraph]](_.unpersist())

  /** Same residency/invalidation device for the PQ serving form (codes
    * resident instead of vectors — m + 8 bytes per node vs 8·dim), one
    * key per residency variant ([[pqCacheKey]]). */
  private val pqCache = new GenerationCache[Dataset[CellGraphPq]](_.unpersist())

  /** Metadata, ROUTING state (sorted centroid rows) and PQ model of one
    * generation, cached beside the graph: they must come from the SAME
    * generation as the resident graph they route into — re-reading
    * centroids.parquet or metadata.json per batch could pair a
    * mid-rebuild quantizer or pq geometry with the previous resident
    * graph, and costs parquet reads per batch besides. */
  private final case class Model(meta: Meta, cents: Array[(Int, Array[Double])],
      pq: Option[PqIndex.PqModel])

  private val modelCache = new GenerationCache[Model]()

  private def modelFor(spark: SparkSession, p: Paths, gen: Long): Model =
    modelCache(p.dir, gen) {
      val meta = readMetadata(spark, p)
      val cents = spark.read.parquet(p.centroids)
        .select(col("cell_id"), col("centroid")).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      Model(meta, cents, if (meta.pqM > 0) Some(loadPqModel(spark, p, meta)) else None)
    }

  /** The generation a search serves: the published one when
    * metadata.json exists; during a maintenance window (unpublished
    * first, published again last) the newest generation resident in
    * THE SPECIFIC CACHE VARIANT the caller will serve from (`cache` at
    * `key`) — a serving loop keeps answering consistent old-generation
    * results while update() mutates, and flips exactly once when the
    * new generation is published (spec: "serve-during-update").
    * Accepting a generation resident only in a DIFFERENT variant would
    * send the caller's loader to graph.parquet cold, under the
    * concurrent partition overwrite — the torn old/new mix the guard
    * exists to prevent. A generation that was never served in the
    * needed form cannot be recovered mid-mutation — that is the
    * refusal. */
  private def servingGeneration(p: Paths, published: Option[Long],
      cache: GenerationCache[_], key: String): Long =
    published.orElse(cache.newest(key)).getOrElse(throw new IllegalStateException(
      s"index at ${p.dir} is incomplete (no ${p.metadata}) and the " +
        "serving form this call needs is not resident at any " +
        "generation — a writer crashed mid-mutation, or the form was " +
        "never served before the maintenance window; retry after the " +
        "update commits or rebuild from the corpus"))

  private def graphAt(spark: SparkSession, p: Paths, gen: Long): Dataset[CellGraph] =
    graphCache(p.dir, gen)(readGraph(spark, p))

  private def readGraph(spark: SparkSession, p: Paths): Dataset[CellGraph] = {
    import spark.implicits._
    val ds = IndexArtifact.restored(spark.read.parquet(p.graph))
      .select(col("cell_id").cast("int"), col("_id"), col("_v"), col("_nn"),
        col("top_layer"), col("nbrs"))
      .as[(Int, Long, Seq[Double], Double, Int, Seq[Seq[Int]])]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        val dim = if (n == 0) 0 else rows.head._3.length
        val ids = new Array[Long](n)
        val norms = new Array[Double](n)
        val top = new Array[Int](n)
        val vecs = new Array[Double](n * dim)
        val nodeBase = new Array[Int](n + 1)
        var entry = -1
        var maxLevel = -1
        var i = 0
        var segs = 0
        var edges = 0
        while (i < n) {
          val r = rows(i)
          ids(i) = r._2; norms(i) = r._4; top(i) = r._5
          val v = r._3
          var j = 0
          while (j < dim) { vecs(i * dim + j) = v(j); j += 1 }
          nodeBase(i) = segs
          segs += r._6.length
          r._6.foreach(l => edges += l.length)
          if (r._5 > maxLevel) { maxLevel = r._5; entry = i }
          i += 1
        }
        nodeBase(n) = segs
        val adjOff = new Array[Int](segs + 1)
        val adjData = new Array[Int](edges)
        var seg = 0
        var e = 0
        i = 0
        while (i < n) {
          rows(i)._6.foreach { lst =>
            adjOff(seg) = e
            lst.foreach { nb => adjData(e) = nb; e += 1 }
            seg += 1
          }
          i += 1
        }
        adjOff(segs) = e
        CellGraph(cell, ids, norms, top, dim, vecs, nodeBase, adjOff,
          adjData, entry, maxLevel)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    ds.count() // materialize: serving batches never pay the group shuffle
    ds
  }

  /** PQ twin of [[graphAt]]: column-pruned to (codes, rn, adjacency) —
    * the int8 exact-store columns stay on disk unless `withStore`. */
  private[graft] def loadGraphPq(spark: SparkSession, p: Paths,
      withStore: Boolean = false): Dataset[CellGraphPq] =
    pqGraphAt(spark, p, IndexArtifact.published(spark, p.dir), withStore)

  private def pqCacheKey(p: Paths, withStore: Boolean): String =
    if (withStore) p.dir + "#store" else p.dir

  private def pqGraphAt(spark: SparkSession, p: Paths, gen: Long,
      withStore: Boolean): Dataset[CellGraphPq] =
    pqCache(pqCacheKey(p, withStore), gen)(readGraphPq(spark, p, withStore))

  private def readGraphPq(spark: SparkSession, p: Paths,
      withStore: Boolean): Dataset[CellGraphPq] = {
    import spark.implicits._
    val base = spark.read.parquet(p.graph)
    val cols = Seq(col("cell_id").cast("int"), col("_id"), col("_codes"),
      col("_rn"), col("top_layer"), col("nbrs")) ++
      (if (withStore) Seq(col("_q"), coalesce(col("_qs"), lit(0.0)).as("_qs"),
        col("_nn")) else Seq(lit(null).cast("array<tinyint>").as("_q"),
        lit(0.0).as("_qs"), lit(0.0).as("_nn")))
    val ds = base.select(cols: _*)
      .as[(Int, Long, Array[Byte], Double, Int, Seq[Seq[Int]],
        Seq[Byte], Double, Double)]
      .groupByKey(_._1)
      .mapGroups { (cell, it) =>
        val rows = it.toArray.sortBy(_._2)
        val n = rows.length
        val m = if (n == 0) 0 else rows.head._3.length
        val dim = if (n == 0 || rows.head._7 == null) 0 else rows.head._7.length
        val ids = new Array[Long](n)
        val rn = new Array[Double](n)
        val codes = new Array[Byte](n * m)
        val qcodes = new Array[Byte](n * dim)
        val qscale = new Array[Double](if (dim > 0) n else 0)
        val nnArr = new Array[Double](if (dim > 0) n else 0)
        val nodeBase = new Array[Int](n + 1)
        var entry = -1
        var maxLevel = -1
        var i = 0
        var segs = 0
        var edges = 0
        while (i < n) {
          val r = rows(i)
          ids(i) = r._2; rn(i) = r._4
          System.arraycopy(r._3, 0, codes, i * m, m)
          if (dim > 0) {
            val qv = r._7
            var t = 0
            while (t < dim) { qcodes(i * dim + t) = qv(t); t += 1 }
            qscale(i) = r._8
            nnArr(i) = r._9
          }
          nodeBase(i) = segs
          segs += r._6.length
          r._6.foreach(l => edges += l.length)
          if (r._5 > maxLevel) { maxLevel = r._5; entry = i }
          i += 1
        }
        nodeBase(n) = segs
        val adjOff = new Array[Int](segs + 1)
        val adjData = new Array[Int](edges)
        var seg = 0
        var e = 0
        i = 0
        while (i < n) {
          rows(i)._6.foreach { lst =>
            adjOff(seg) = e
            lst.foreach { nb => adjData(e) = nb; e += 1 }
            seg += 1
          }
          i += 1
        }
        adjOff(segs) = e
        CellGraphPq(cell, ids, rn, m, codes, dim, qcodes, qscale, nnArr,
          nodeBase, adjOff, adjData, entry, maxLevel)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    ds.count()
    ds
  }

  /** Drop the resident graph and any outstanding query broadcast for
    * `outDir` (tests / bounded-memory callers). */
  def evict(outDir: String): Unit = {
    val p = Paths(outDir)
    graphCache.evict(p.dir)
    Seq(false, true).foreach(s => pqCache.evict(pqCacheKey(p, s)))
    modelCache.evict(p.dir)
    lastQueryBroadcast.remove(p.graph).foreach(_.destroy())
  }

  /** One outstanding query-batch broadcast per index: a serving loop
    * that never unpersisted its per-batch broadcasts accumulated
    * executor memory for the life of the JVM. Each [[search]] destroys
    * the PREVIOUS call's broadcast on the same index before creating
    * its own — so the result DataFrame of a search must be consumed
    * before the next search on that index (every serving loop, the
    * bench and q124 do exactly that; concurrent query batches on ONE
    * index are outside the bounded-batch serving contract). */
  private val lastQueryBroadcast =
    new TrieMap[String, org.apache.spark.broadcast.Broadcast[_]]

  /** Shared serving-side routing step, used verbatim by [[search]] and
    * [[searchPq]] (extracted so the two serving paths cannot drift):
    * bound + collect the query batch, probe each query's nProbe nearest
    * cells against the generation's routing model with the IVF probe
    * kernel, invert to per-cell query-index lists. */
  private final case class RoutedBatch(
      qRows: Array[(Long, Array[Double])],
      routing: Map[Int, Array[Int]],
      probedCells: Seq[Int])

  private def routeBatch(cents: Array[(Int, Array[Double])],
      queries: DataFrame, nProbe: Int, maxQueries: Long,
      caller: String): RoutedBatch = {
    Guards.requireAtMost(queries, maxQueries, caller,
      "serve in bounded batches — the query side of a graph search is " +
        "collected for per-cell routing")
    val qRows: Array[(Long, Array[Double])] = queries
      .select(col("query_id"), col("qv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val centVecs = cents.map(_._2)
    val invNorms = CellKernels.invNorms(centVecs)
    val routed = mutable.Map.empty[Int, mutable.ArrayBuffer[Int]]
    var qi = 0
    while (qi < qRows.length) {
      val cellPos = CellKernels.probeCells(UnsafeArrayData.fromPrimitiveArray(qRows(qi)._2),
        centVecs, invNorms, nProbe).toIntArray()
      var j = 0
      while (j < cellPos.length) {
        routed.getOrElseUpdate(cents(cellPos(j))._1,
          mutable.ArrayBuffer.empty) += qi
        j += 1
      }
      qi += 1
    }
    val routing: Map[Int, Array[Int]] =
      routed.map { case (c, b) => (c, b.toArray) }.toMap
    RoutedBatch(qRows, routing, routing.keys.toSeq)
  }

  /** Search the persisted index: route each query to its nProbe nearest
    * cells (the IVF probe kernel [[CellKernels.probeCells]], run on the
    * driver — the model is nCells rows), beam-search those cells'
    * resident graphs with `efSearch`, merge through the bounded top-k
    * heap. The query side is a bounded serving batch (same contract as
    * [[Similarity.topKExact]]); the corpus side never leaves its
    * executors. `efSearch ≥ cell size` (e.g. Int.MaxValue) plus
    * `nProbe = nCells` is the exhaustive, oracle-exact configuration. */
  def search(spark: SparkSession, outDir: String, queries: DataFrame, k: Int,
      efSearch: Int, nProbe: Int, maxQueries: Long = 10000L): DataFrame = {
    import spark.implicits._
    val p = Paths(outDir)
    // resolve ONE generation for routing + graph: either the published
    // one, or — mid-maintenance — the newest FLOAT-resident one
    val gen = servingGeneration(p, IndexArtifact.generation(spark, outDir),
      graphCache, p.dir)
    val rb = routeBatch(modelFor(spark, p, gen).cents, queries, nProbe,
      maxQueries, "HnswIndex.search")
    val probedCells = rb.probedCells
    lastQueryBroadcast.remove(p.graph).foreach(_.destroy())
    val bq = spark.sparkContext.broadcast((rb.qRows, rb.routing))
    lastQueryBroadcast.put(p.graph, bq)
    val kk = k
    val ef = efSearch
    val sims = graphAt(spark, p, gen)
      .filter(col("cellId").isin(probedCells: _*))
      .flatMap { g =>
        val (qs, routing) = bq.value
        routing.getOrElse(g.cellId, Array.empty[Int]).iterator.flatMap { idx =>
          val (qid, qv) = qs(idx)
          searchCell(g, qv, ef, kk, qid).iterator
            .map { case (nid, sim) => (qid, nid, sim) }
        }
      }
      .toDF("query_id", "neighbor_id", "sim_raw")
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim_raw"), 6).as("sim"))
    Similarity.perQueryTopK(sims, k)
  }

  /** PQ serving (FAISS's HNSW+PQ+refine composition): route queries as
    * [[search]] does, beam-search the probed cells' RESIDENT CODE
    * graphs (m lookups per candidate against an m+8-byte/node
    * footprint), then rerank each query's merged `window`-candidate
    * shortlist with EXACT cosines against the int8 store — which stays
    * on DISK (column-pruned out of the resident cache) and is read only
    * for the probed cells, |Q|·window·nProbe candidate rows per batch.
    * The rerank scores by the [[Similarity.cosine]] contract
    * bit-for-bit, so `efSearch ≥ cell size`, `nProbe = nCells`,
    * `window ≥ cell size` reproduces the int8-exhaustive
    * result exactly (the beam returns every node when ef ≥ n — the
    * backbone-connectivity device — and a full-window rerank is then an
    * exhaustive exact scan). */
  def searchPq(spark: SparkSession, outDir: String, queries: DataFrame,
      k: Int, efSearch: Int, nProbe: Int, window: Int = 50,
      maxQueries: Long = 10000L, residentRerank: Boolean = false): DataFrame = {
    import spark.implicits._
    val p = Paths(outDir)
    val published = IndexArtifact.generation(spark, outDir)
    // the on-disk rerank reads graph.parquet per batch, which a
    // concurrent update()'s dynamic partition overwrite may be
    // rewriting — fail fast rather than rerank against a torn old/new
    // mix; the resident-rerank form carries the full
    // serve-during-update guarantee (its store rides the
    // generation-keyed cache). Checked FIRST: mid-maintenance this is
    // the actionable diagnosis whatever else is or isn't resident.
    require(residentRerank || published.isDefined,
      s"index at $outDir is mid-maintenance and the disk-rerank form " +
        "reads the store per batch — serve with residentRerank = true " +
        "(generation-consistent) or retry after the update commits")
    val gen = servingGeneration(p, published, pqCache, pqCacheKey(p, residentRerank))
    val model = modelFor(spark, p, gen)
    require(model.pq.isDefined,
      s"index at $outDir carries no PQ codes — build(pqM > 0) or use search()")
    require(window >= k, s"pq rerank: window $window must be >= k $k")
    val rb = routeBatch(model.cents, queries, nProbe, maxQueries,
      "HnswIndex.searchPq")
    val qRows = rb.qRows
    val routedImm = rb.routing
    val probedCells = rb.probedCells
    val centById: Map[Int, Array[Double]] = model.cents.toMap
    lastQueryBroadcast.remove(p.graph).foreach(_.destroy())
    val bq = spark.sparkContext.broadcast(
      (qRows, routedImm, centById, model.pq.get.codebooks))
    lastQueryBroadcast.put(p.graph, bq)
    val kSub = model.meta.pqK
    val ef = efSearch
    val win = window
    val rr = residentRerank
    val perCell = pqGraphAt(spark, p, gen, withStore = residentRerank)
      .filter(col("cellId").isin(probedCells: _*))
      .mapPartitions { cells =>
        val (qs, routing, centOf, cbs) = bq.value
        val dsub = cbs(0)(0).length
        val m = cbs.length
        // per-QUERY LUT: lut[j·k + c] = dot(q_subj, codebook_jc). The
        // LUT depends only on the query and the shared codebooks — at
        // m·k·dsub = d·k multiplies it often outweighs the beam itself,
        // and a query probes nProbe cells (ALL cells in the q125
        // exhaustive config) — so memoize per task across the cells it
        // serves instead of rebuilding per (query, cell). Capped so the
        // worst case (every query routed to this task's cells at the
        // 10k-query guard ceiling) holds ~33 MB, not ~330 MB.
        val luts = new java.util.HashMap[Int, Array[Double]]()
        val lutCap = 1024
        def lutOf(idx: Int, qv: Array[Double]): Array[Double] = {
          val hit = luts.get(idx)
          if (hit != null) return hit
          val lut = new Array[Double](m * kSub)
          var j = 0
          while (j < m) {
            var c = 0
            while (c < kSub) {
              val cb = cbs(j)(c)
              var acc = 0.0
              var t = 0
              val base = j * dsub
              while (t < dsub) {
                if (base + t < qv.length) acc += qv(base + t) * cb(t)
                t += 1
              }
              lut(j * kSub + c) = acc
              c += 1
            }
            j += 1
          }
          if (luts.size >= lutCap) luts.clear()
          luts.put(idx, lut)
          lut
        }
        cells.flatMap { g =>
          val cent = centOf(g.cellId)
          routing.getOrElse(g.cellId, Array.empty[Int]).iterator.flatMap { idx =>
            val (qid, qv) = qs(idx)
            var qn = 0.0
            var i = 0
            while (i < qv.length) { qn += qv(i) * qv(i); i += 1 }
            qn = math.sqrt(qn)
            var qc = 0.0
            val nc = math.min(qv.length, cent.length)
            i = 0
            while (i < nc) { qc += qv(i) * cent(i); i += 1 }
            searchCellPq(g, lutOf(idx, qv), qc, qn, kSub, ef, win, qid,
              qv = if (rr) qv else null).iterator
              .map { case (nid, sim) => (qid, nid, sim) }
          }
        }
      }
    if (residentRerank) {
      // exact sims were computed IN-CELL from the resident int8 store —
      // no per-batch store IO at all; round in-plan and merge
      val sims = perCell.toDF("query_id", "neighbor_id", "sim_raw")
        .select(col("query_id"), col("neighbor_id"),
          round(col("sim_raw"), 6).as("sim"))
      Similarity.perQueryTopK(sims, k)
    } else {
      // exact rerank against the ON-DISK int8 store: probed-cell parquet
      // read per batch (the IO the codes-only residency trades for)
      val shortlist = perCell.map(t => (t._1, t._2)).toDF("query_id", "neighbor_id")
      val store = IndexArtifact.restored(spark.read.parquet(p.graph)
          .filter(col("cell_id").isin(probedCells: _*)))
        .select(col("_id").as("neighbor_id"), col("_v").as("nv"))
      Similarity.rerank(shortlist, queries, store, k)
    }
  }

  // --------------------------------------------------- in-cell kernels

  @inline private def better(k1: Double, p1: Int, k2: Double, p2: Int): Boolean =
    k1 < k2 || (k1 == k2 && p1 < p2)

  private val candOrd: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** Allocation-free binary heap over (key, pos) pairs held in parallel
    * primitive arrays — the boxed `PriorityQueue[(Double, Int)]` in the
    * build/serve inner loops allocated two objects per candidate and
    * dominated the 10⁵-vector-cell build profile. Ordering is the
    * lexicographic (key, pos) total order (keys are
    * [[SimilarityKernels.cosineKey]] outputs, never NaN), `maxHeap =
    * true` puts the LARGEST pair at the head (the beam's worst-kept),
    * `false` the smallest (the best candidate). Heap internals never
    * affect results: each pop is the unique total-order
    * extremum of the current set, so the pop sequence — and therefore
    * every search and build decision — is identical to the boxed form's. */
  private[index] final class KeyHeap(cap0: Int, maxHeap: Boolean) {
    private var keys = new Array[Double](math.max(8, cap0))
    private var poss = new Array[Int](keys.length)
    private var n = 0
    @inline private def before(k1: Double, p1: Int, k2: Double, p2: Int): Boolean =
      if (maxHeap) k1 > k2 || (k1 == k2 && p1 > p2)
      else k1 < k2 || (k1 == k2 && p1 < p2)
    def size: Int = n
    def nonEmpty: Boolean = n > 0
    def headKey: Double = keys(0)
    def headPos: Int = poss(0)
    def clear(): Unit = n = 0
    def enqueue(k: Double, p: Int): Unit = {
      if (n == keys.length) {
        keys = java.util.Arrays.copyOf(keys, n * 2)
        poss = java.util.Arrays.copyOf(poss, n * 2)
      }
      var i = n
      n += 1
      while (i > 0) {
        val parent = (i - 1) >> 1
        if (before(k, p, keys(parent), poss(parent))) {
          keys(i) = keys(parent); poss(i) = poss(parent); i = parent
        } else {
          keys(i) = k; poss(i) = p; return
        }
      }
      keys(0) = k; poss(0) = p
    }
    /** Pop the head; returns its pos. */
    def dequeue(): Int = {
      val out = poss(0)
      n -= 1
      if (n > 0) {
        val k = keys(n); val p = poss(n)
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1
          if (l >= n) done = true
          else {
            val r = l + 1
            val c = if (r < n && before(keys(r), poss(r), keys(l), poss(l))) r else l
            if (before(keys(c), poss(c), k, p)) {
              keys(i) = keys(c); poss(i) = poss(c); i = c
            } else done = true
          }
        }
        keys(i) = k; poss(i) = p
      }
      out
    }
  }

  /** The shared greedy-descent + ef-beam walk over one cell's CSR
    * adjacency, parameterized by the (memoized) ranking key — the
    * [[Similarity.cosine]] contract's [[SimilarityKernels.cosineKey]]:
    * the float / int8 path scores with full dot products, the PQ path
    * with LUT-summed asymmetric distances — the traversal itself is
    * identical, so both serve through one deterministic kernel.
    * Returns the beam's positions best-first. */
  private def beamWalk(n: Int, nodeBase: Array[Int], adjOff: Array[Int],
      adjData: Array[Int], entry: Int, maxLevel: Int,
      keyOf: Int => Double, ef: Int): Array[Int] = {
    @inline def segStart(pos: Int, layer: Int): Int = adjOff(nodeBase(pos) + layer)
    @inline def segEnd(pos: Int, layer: Int): Int = adjOff(nodeBase(pos) + layer + 1)
    @inline def layersOf(pos: Int): Int = nodeBase(pos + 1) - nodeBase(pos)
    // greedy descent on layers > 0
    var ep = entry
    var lc = maxLevel
    while (lc > 0) {
      var moved = true
      while (moved) {
        moved = false
        if (lc < layersOf(ep)) {
          var bestK = keyOf(ep); var bestP = ep
          var e = segStart(ep, lc)
          val end = segEnd(ep, lc)
          while (e < end) {
            val cand = adjData(e)
            val ck = keyOf(cand)
            if (better(ck, cand, bestK, bestP)) { bestK = ck; bestP = cand }
            e += 1
          }
          if (bestP != ep) { ep = bestP; moved = true }
        }
      }
      lc -= 1
    }
    // ef-beam at layer 0
    val visited = new java.util.BitSet(n)
    val cand = new KeyHeap(ef + 1, maxHeap = false) // head = best candidate
    val w = new KeyHeap(ef + 1, maxHeap = true) // head = worst kept
    val epk = keyOf(ep)
    visited.set(ep); cand.enqueue(epk, ep); w.enqueue(epk, ep)
    while (cand.nonEmpty) {
      val ck = cand.headKey
      val cp = cand.dequeue()
      val stop = w.size >= ef && !better(ck, cp, w.headKey, w.headPos)
      if (stop) cand.clear()
      else {
        var e = segStart(cp, 0)
        val end = segEnd(cp, 0)
        while (e < end) {
          val nb = adjData(e)
          if (!visited.get(nb)) {
            visited.set(nb)
            val nk = keyOf(nb)
            val admit = w.size < ef || better(nk, nb, w.headKey, w.headPos)
            if (admit) {
              cand.enqueue(nk, nb); w.enqueue(nk, nb)
              if (w.size > ef) w.dequeue()
            }
          }
          e += 1
        }
      }
    }
    // drain the heap worst-first into best-first order
    val drained = new Array[Int](w.size)
    var di = w.size - 1
    while (w.nonEmpty) { drained(di) = w.dequeue(); di -= 1 }
    drained
  }

  /** Beam-search one cell for one query; returns (neighbor_id, raw sim)
    * candidates, the sim null for a zero norm product. With ef ≥ n every
    * node is returned (minus the query's own id) — exactness relies on
    * the backbone-connected layer 0. Otherwise the best `k` by (key,
    * pos asc) of the beam result (positions are id-sorted, so pos asc
    * == id asc). */
  private[graft] def searchCell(g: CellGraph, q: Array[Double], efSearch: Int,
      k: Int, excludeId: Long): Array[(Long, Option[Double])] = {
    val n = g.n
    if (n == 0) return Array.empty
    val dim = g.dim
    var qn = 0.0
    var i = 0
    while (i < dim) { qn += q(i) * q(i); i += 1 }
    qn = math.sqrt(qn)
    // memoized per-node sim; validity tracked by bitset (no O(n) prefill)
    val simArr = new Array[Double](n)
    val simSet = new java.util.BitSet(n)
    def keyOf(pos: Int): Double = {
      val denom = qn * g.norms(pos)
      if (!simSet.get(pos)) {
        var acc = 0.0
        var j = 0
        val off = pos * dim
        while (j < dim) { acc += q(j) * g.vecs(off + j); j += 1 }
        simArr(pos) = acc / denom
        simSet.set(pos)
      }
      SimilarityKernels.cosineKey(simArr(pos), denom)
    }
    val ef = math.max(math.max(1, k),
      math.min(efSearch.toLong, n.toLong).toInt)
    val drained = beamWalk(n, g.nodeBase, g.adjOff, g.adjData, g.entry,
      g.maxLevel, keyOf, ef)
    val all = drained.iterator
      .filter(pos => g.ids(pos) != excludeId)
      .map(pos => (g.ids(pos), simOrNull(simArr(pos), qn * g.norms(pos))))
      .toArray
    if (ef >= n) all else all.take(k)
  }

  /** PQ beam: identical walk, asymmetric-distance similarity —
    * sim(q, x̂) = (dot(q, coarse) + Σⱼ lut[j][codeⱼ]) / (‖q‖·‖x̂‖), m
    * table lookups per candidate instead of d multiplies, against a
    * resident footprint of m bytes + one norm per vector. The sims are
    * EXACT cosines against the PQ reconstruction (the LUT sum IS
    * dot(q, decode(codes)) — no approximation beyond the codes
    * themselves), so with ef ≥ n the beam returns every node and the
    * full-window rerank path is exhaustive-exact over the int8 store. */
  private[graft] def searchCellPq(g: CellGraphPq, lut: Array[Double],
      qCoarse: Double, qn: Double, kSub: Int, efSearch: Int, window: Int,
      excludeId: Long, qv: Array[Double] = null): Array[(Long, Option[Double])] = {
    val n = g.n
    if (n == 0) return Array.empty
    val m = g.m
    val simArr = new Array[Double](n)
    val simSet = new java.util.BitSet(n)
    def keyOf(pos: Int): Double = {
      val denom = qn * g.rn(pos)
      if (!simSet.get(pos)) {
        var acc = qCoarse
        var j = 0
        val off = pos * m
        while (j < m) { acc += lut(j * kSub + (g.codes(off + j) + 128)); j += 1 }
        simArr(pos) = acc / denom
        simSet.set(pos)
      }
      SimilarityKernels.cosineKey(simArr(pos), denom)
    }
    val ef = math.max(math.max(1, window),
      math.min(efSearch.toLong, n.toLong).toInt)
    val drained = beamWalk(n, g.nodeBase, g.adjOff, g.adjData, g.entry,
      g.maxLevel, keyOf, ef)
    val kept = {
      val all = drained.filter(pos => g.ids(pos) != excludeId)
      if (ef >= n) all else all.take(window)
    }
    if (g.dim == 0 || qv == null)
      // ADC sims: caller reranks
      kept.map(pos => (g.ids(pos), simOrNull(simArr(pos), qn * g.rn(pos))))
    else kept.map { pos =>
      // in-cell EXACT rerank from the resident int8 store: replays
      // dequantizeInt8 (code / scale; zero-scale = zero vector) and the
      // sequential VecDotD accumulation, the cosine contract over qn·nn —
      // identical doubles to the disk-rerank/searchCell int8 path, so
      // exhaustive parity carries over
      val sc = g.qscale(pos)
      var acc = 0.0
      var j = 0
      val off = pos * g.dim
      while (j < g.dim) {
        val v = if (sc > 0) g.qcodes(off + j).toDouble / sc else 0.0
        acc += qv(j) * v
        j += 1
      }
      (g.ids(pos), simOrNull(acc / (qn * g.nn(pos)), qn * g.nn(pos)))
    }
  }

  /** The contract's output sim: null when the norm product is 0. */
  @inline private def simOrNull(sim: Double, denom: Double): Option[Double] =
    if (denom == 0.0) None else Some(sim)

  /** Per-cell in-memory HNSW builder. Simple top-M neighbor selection
    * (Malkov & Yashunin 2016 §4 note it performs comparably to the
    * heuristic on low-dim/clustered data), degree caps M (layers > 0)
    * and 2M (layer 0) plus the two pruning-exempt backbone edges. */
  private[index] final class CellBuilder(dim: Int, m: Int, efC: Int,
      seed: Long, capacity: Int) {
    private val mL = 1.0 / math.log(math.max(2, m).toDouble)
    val ids = new Array[Long](capacity)
    val norms = new Array[Double](capacity)
    val topLayer = new Array[Int](capacity)
    // adjacency as parallel fixed-capacity (neighbor, key) arrays with
    // explicit lengths — the cached key is the SAME value `key(a,b)`
    // recomputation would produce (the kernel is bitwise symmetric), so
    // prune never re-runs a dot product it already paid for. The r13
    // build profile showed the prune-side recompute plus ArrayBuffer
    // churn were the top terms at m=16/efC=128 on 10⁵-vector cells.
    private val adjN = new Array[Array[Array[Int]]](capacity)
    private val adjK = new Array[Array[Array[Double]]](capacity)
    private val adjLen = new Array[Array[Int]](capacity)
    // a node-layer list is longest right before its prune: cap (2m at
    // layer 0, m above) + 2 pruning-exempt backbone partners + 1 fresh
    private val cap0 = 2 * m + 3
    private val capU = m + 1
    // float backing store: the kernel is memory-latency/bandwidth bound
    // (169 ns/sim all-in at 10⁵×64 doubles, 20 concurrent cells saturate
    // ~60 GB/s on the r13 probe) — float rows halve the lines per pair.
    // The kernel accumulates in FLOAT too (double-convert variants
    // measured slower); ~1e-7 relative error on unit-vector dots, which
    // only perturbs near-tied edge choices.
    private val vecs = new Array[Float](capacity * dim)
    private var count = 0
    private var entry = -1
    private var entryLevel = -1
    // generation-stamped visited marks: one array reused across the
    // O(n) per-cell inserts instead of a fresh bitset per insert
    private val visitedGen = new Array[Int](capacity)
    private var gen = 0
    // reused per-insert scratch: beam heaps, ping-pong entry/result
    // buffers, prune sort arrays — zero steady-state allocation beyond
    // the l+1 adjacency arrays of the inserted node itself
    private val candHeap = new KeyHeap(efC + 1, maxHeap = false)
    private val keepHeap = new KeyHeap(efC + 1, maxHeap = true)
    private val bufP1 = new Array[Int](efC + 1)
    private val bufK1 = new Array[Double](efC + 1)
    private val bufP2 = new Array[Int](efC + 1)
    private val bufK2 = new Array[Double](efC + 1)
    private val prP = new Array[Int](cap0 + 1)
    private val prK = new Array[Double](cap0 + 1)
    private val nbrBuf = new Array[Int](cap0 + 1)
    private var pfSink = 0.0f // keeps the prefetch reads observable

    def add(id: Long, v: Array[Double]): Unit = {
      val pos = count
      ids(pos) = id
      var s = 0.0
      var i = 0
      while (i < dim) { s += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(s)
      norms(pos) = nrm
      val base = pos * dim
      if (nrm > 0 && !nrm.isNaN) {
        // store the UNIT vector: sim() becomes a plain dot product (the
        // division the old kernel paid per-pair is paid once per node)
        i = 0
        while (i < dim) { vecs(base + i) = (v(i) / nrm).toFloat; i += 1 }
      } else {
        // zero/NaN-norm row: a NaN row makes every dot involving it NaN,
        // matching the 0/0 = NaN → key -∞ of the un-normalized kernel
        i = 0
        while (i < dim) { vecs(base + i) = Float.NaN; i += 1 }
      }
      count += 1
    }

    /** Neighbor lists in output form, one Seq per layer. */
    def adjSeq(pos: Int): Seq[Seq[Int]] = {
      val ns = adjN(pos)
      val ls = adjLen(pos)
      Seq.tabulate(ns.length)(lay => ns(lay).take(ls(lay)).toSeq)
    }

    def buildAll(): Unit = {
      var pos = 0
      while (pos < count) { insert(pos); pos += 1 }
    }

    private def mix64(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    private[index] def levelOf(id: Long): Int = {
      val h = mix64(id ^ mix64(seed))
      val u = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble
      math.min(32, math.floor(-math.log(u) * mL).toInt)
    }

    /** Dot of two UNIT rows = cosine. Eight independent float
      * accumulators break the serial FP-add dependency chain (the
      * strict one-acc loop was latency-bound at ~dim·4 cycles per
      * pair); reassociation and float accumulation change rounding in
      * the last bits, which only perturbs which near-tied edges the
      * graph keeps — search results stay gated by the exhaustive-beam
      * oracles (q124/q125) and the recall specs.
      *
      * Every key computed during insert(pos) is sim(pos, ·), so the
      * query row is staged once per insert into the L1-resident qBuf
      * and the kernel reads one hot small array + one cold row instead
      * of two indexed slices of the 10⁵×dim backing array. */
    private val qBuf = new Array[Float](dim)

    private def stageQuery(pos: Int): Unit =
      System.arraycopy(vecs, pos * dim, qBuf, 0, dim)

    private[index] var statSims = 0L
    private[index] var statAdmits = 0L
    private[index] var statPrunes = 0L

    private def simQ(b: Int): Double = {
      statSims += 1
      val ob = b * dim
      val q = qBuf
      var acc0 = 0.0f; var acc1 = 0.0f; var acc2 = 0.0f; var acc3 = 0.0f
      var acc4 = 0.0f; var acc5 = 0.0f; var acc6 = 0.0f; var acc7 = 0.0f
      var i = 0
      val lim = dim - 7
      while (i < lim) {
        acc0 += q(i) * vecs(ob + i)
        acc1 += q(i + 1) * vecs(ob + i + 1)
        acc2 += q(i + 2) * vecs(ob + i + 2)
        acc3 += q(i + 3) * vecs(ob + i + 3)
        acc4 += q(i + 4) * vecs(ob + i + 4)
        acc5 += q(i + 5) * vecs(ob + i + 5)
        acc6 += q(i + 6) * vecs(ob + i + 6)
        acc7 += q(i + 7) * vecs(ob + i + 7)
        i += 8
      }
      var acc = ((acc0 + acc1) + (acc2 + acc3)) + ((acc4 + acc5) + (acc6 + acc7))
      while (i < dim) { acc += q(i) * vecs(ob + i); i += 1 }
      acc.toDouble
    }

    @inline private def keyQ(b: Int): Double = {
      val s = simQ(b)
      if (s.isNaN) Double.NegativeInfinity else -s
    }

    // key of the node greedy() settled on — valid right after the call
    private var greedyKey = 0.0

    private def greedy(start: Int, startKey: Double,
        layer: Int): Int = {
      var ep = start
      var epk = startKey // carried across moves: the chosen best's
      var moved = true   // key IS the next iteration's pivot key
      while (moved) {
        moved = false
        if (layer < adjN(ep).length) {
          val lst = adjN(ep)(layer)
          val len = adjLen(ep)(layer)
          var bestK = epk; var bestP = ep
          var j = 0
          while (j < len) {
            val c = lst(j)
            val ck = keyQ(c)
            if (better(ck, c, bestK, bestP)) { bestK = ck; bestP = c }
            j += 1
          }
          if (bestP != ep) { ep = bestP; epk = bestK; moved = true }
        }
      }
      greedyKey = epk
      ep
    }

    /** Beam search; entry points arrive WITH their already-computed keys
      * (they are the previous layer's results), results leave with
      * theirs — no key in the descent is ever computed twice. */
    private def searchLayer(epsP: Array[Int], epsK: Array[Double],
        epsN: Int, ef: Int, layer: Int,
        outP: Array[Int], outK: Array[Double]): Int = {
      gen += 1
      val cand = candHeap; cand.clear() // head = best candidate
      val w = keepHeap; w.clear()       // head = worst kept
      var ei = 0
      while (ei < epsN) {
        val ep = epsP(ei)
        if (visitedGen(ep) != gen) {
          visitedGen(ep) = gen
          val k0 = epsK(ei)
          cand.enqueue(k0, ep); w.enqueue(k0, ep)
          if (w.size > ef) w.dequeue()
        }
        ei += 1
      }
      while (cand.nonEmpty) {
        val ck = cand.headKey
        val cp = cand.dequeue()
        val stop = w.size >= ef && !better(ck, cp, w.headKey, w.headPos)
        if (stop) cand.clear()
        else if (layer < adjN(cp).length) {
          val lst = adjN(cp)(layer)
          val len = adjLen(cp)(layer)
          // phase 1: mark unvisited neighbors and touch each row's head
          // line — the kernel is memory-latency bound (137 ns/sim, 100k
          // rows never L3-resident), so issuing all the row-head misses
          // before any dot product overlaps them in the OoO window
          var nu = 0
          var pf = 0.0f
          var j = 0
          while (j < len) {
            val e = lst(j)
            if (visitedGen(e) != gen) {
              visitedGen(e) = gen
              nbrBuf(nu) = e; nu += 1
              val eb = e * dim
              // touch every 64 B line of the 256 B row (dim=64 floats)
              pf += vecs(eb) + vecs(eb + (dim >> 2)) +
                vecs(eb + (dim >> 1)) + vecs(eb + dim - 1)
            }
            j += 1
          }
          pfSink += pf
          // phase 2: score them
          j = 0
          while (j < nu) {
            val e = nbrBuf(j)
            val ekk = keyQ(e)
            val admit = w.size < ef || better(ekk, e, w.headKey, w.headPos)
            if (admit) {
              statAdmits += 1
              cand.enqueue(ekk, e); w.enqueue(ekk, e)
              if (w.size > ef) w.dequeue()
            }
            j += 1
          }
        }
      }
      // drain the heap worst-first into best-first order, keys alongside
      val n = w.size
      var di = n - 1
      while (w.nonEmpty) { outK(di) = w.headKey; outP(di) = w.dequeue(); di -= 1 }
      n
    }

    private def connect(a: Int, b: Int, k: Double, layer: Int): Unit = {
      val ns = adjN(a)(layer)
      val len = adjLen(a)(layer)
      var i = 0
      while (i < len) { if (ns(i) == b) return; i += 1 }
      ns(len) = b
      adjK(a)(layer)(len) = k
      adjLen(a)(layer) = len + 1
    }

    /** Cap a node's layer list; layer-0 backbone partners (pos±1) are
      * exempt, so layer 0 stays a connected chain by construction.
      * Keys are the CACHED edge keys — the r13 form recomputed a
      * dim-length dot per element per prune (~m·(cap+1) dots per insert
      * at layer 0 alone, the top term in the 10⁵-cell build profile);
      * the cached values are bitwise what the recompute would produce.
      * Rank order is the same (key, pos) total order, so the kept set
      * is identical. */
    private def prune(node: Int, layer: Int): Unit = {
      val cap = if (layer == 0) 2 * m else m
      val len = adjLen(node)(layer)
      if (len <= cap) return
      statPrunes += 1
      val ns = adjN(node)(layer)
      val ks = adjK(node)(layer)
      // split out the layer-0 backbone (pos±1), preserving list order
      var bbP0 = -1; var bbP1 = -1; var bbK0 = 0.0; var bbK1 = 0.0
      var rn = 0
      var i = 0
      while (i < len) {
        val p = ns(i)
        if (layer == 0 && (p == node - 1 || p == node + 1)) {
          if (bbP0 < 0) { bbP0 = p; bbK0 = ks(i) }
          else { bbP1 = p; bbK1 = ks(i) }
        } else { prP(rn) = p; prK(rn) = ks(i); rn += 1 }
        i += 1
      }
      // insertion sort (rn ≤ 2m+3) by the strict (key, pos) total order
      i = 1
      while (i < rn) {
        val p = prP(i); val k = prK(i)
        var j = i - 1
        while (j >= 0 && better(k, p, prK(j), prP(j))) {
          prP(j + 1) = prP(j); prK(j + 1) = prK(j); j -= 1
        }
        prP(j + 1) = p; prK(j + 1) = k
        i += 1
      }
      var w = 0
      if (bbP0 >= 0) { ns(w) = bbP0; ks(w) = bbK0; w += 1 }
      if (bbP1 >= 0) { ns(w) = bbP1; ks(w) = bbK1; w += 1 }
      val keep = math.min(cap, rn)
      i = 0
      while (i < keep) { ns(w) = prP(i); ks(w) = prK(i); w += 1; i += 1 }
      adjLen(node)(layer) = w
    }

    private def insert(pos: Int): Unit = {
      val l = levelOf(ids(pos))
      topLayer(pos) = l
      adjN(pos) = Array.tabulate(l + 1)(lay =>
        new Array[Int](if (lay == 0) cap0 else capU))
      adjK(pos) = Array.tabulate(l + 1)(lay =>
        new Array[Double](if (lay == 0) cap0 else capU))
      adjLen(pos) = new Array[Int](l + 1)
      if (entry < 0) { entry = pos; entryLevel = l; return }
      stageQuery(pos)
      var ep = entry
      var epk = keyQ(ep)
      var lc = entryLevel
      while (lc > l) { ep = greedy(ep, epk, lc); epk = greedyKey; lc -= 1 }
      var curP = bufP1; var curK = bufK1; var curN = 1
      curP(0) = ep; curK(0) = epk
      lc = math.min(l, entryLevel)
      while (lc >= 0) {
        val outP = if (curP eq bufP1) bufP2 else bufP1
        val outK = if (curP eq bufP1) bufK2 else bufK1
        val wN = searchLayer(curP, curK, curN, efC, lc, outP, outK)
        val selN = math.min(m, wN)
        var j = 0
        while (j < selN) {
          val nb = outP(j)
          val nk = outK(j) // key(pos,nb) — the kernel is symmetric
          connect(pos, nb, nk, lc); connect(nb, pos, nk, lc)
          prune(nb, lc)
          j += 1
        }
        curP = outP; curK = outK; curN = wN
        lc -= 1
      }
      // backbone: insertion-order chain at layer 0 (pruning-exempt)
      val bk = keyQ(pos - 1)
      connect(pos, pos - 1, bk, 0)
      connect(pos - 1, pos, bk, 0)
      if (l > entryLevel) { entry = pos; entryLevel = l }
    }
  }
}
