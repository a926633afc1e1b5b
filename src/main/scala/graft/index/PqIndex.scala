package graft.index

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Json
import graft.expressions.{PqExprs, VectorExprs}
import graft.functions.{VectorFunctions => VF}
import graft.operators.Similarity

/** X117 IVF-PQ compressed ANN index (Jégou, Douze & Schmid, TPAMI 2011 —
  * the IVFADC layout FAISS ships as `IndexIVFPQ`; reference counterpart
  * src/lakehouse/indexing/faiss_builder.py:60-147, which trains FAISS
  * indexes in one process).
  *
  * Why this exists beside [[VectorIndex]] (float64 / int8 storage): the
  * int8 store is 8 bytes/dim → 64 B/vector at d=64 plus the id; PQ
  * stores m CODE BYTES per vector (m=8 default) + one reconstructed
  * norm — 32× less candidate IO than a float32 store, which at 100 TB
  * of embeddings is the difference between a probe that reads pages and
  * one that reads racks. Candidate scoring also drops from d multiplies
  * to m table lookups ([[graft.expressions.PqKernels.adc]]).
  *
  * Spark shape — every stage is the established bounded-model pattern:
  *  - coarse quantizer: [[Similarity.trainIvfCentroids]] (driver Lloyd on
  *    a hash-deterministic bounded sample), assignment map-only codegen.
  *  - PQ codebooks: per-subspace Lloyd (L2) on a hash-deterministic
  *    bounded sample of RESIDUALS (v − coarse centroid) — classic IVFADC
  *    encodes residuals, which concentrates the quantizer's dynamic
  *    range and roughly halves the distortion vs flat PQ at equal bits.
  *  - encode: ONE map-only codegen pass ([[graft.expressions.PqEncodeExpr]]);
  *    the corpus never shuffles except the cell-partitioned write.
  *  - search: probe that reads only the probed cells' files (the
  *    VectorIndex dynamic partition pruning, [[CellTable]]) +
  *    per-query LUT built BEFORE the probe fan-out + m-lookup ADC per
  *    candidate + the bounded-heap top-k aggregate.
  *
  * Ranking contract: sim(q, x) ≈ dot(q, x̂) / (‖q‖·‖x̂‖) where
  * x̂ = coarse + decode(codes) — cosine against the RECONSTRUCTION, with
  * ‖x̂‖ precomputed at build time, so ranking is exactly consistent with
  * what the codes store (the same convention the int8 path uses).
  * Correctness gate: vectors lying exactly on (coarse + codebook) points
  * reconstruct exactly ⇒ ADC sim == exact cosine (spec-asserted);
  * recall vs the exhaustive kernel is measured, not assumed
  * (PqIndexSpec + the bench ann_pq phase).
  */
object PqIndex {

  /** PQ model: m subspaces × k centroids × (d/m) dims. Bounded model
    * object (m·k·dsub doubles — 128 KB at d=64, m=8, k=256). */
  final case class PqModel(m: Int, dsub: Int, k: Int,
      codebooks: Array[Array[Array[Double]]]) {
    def dim: Int = m * dsub

    /** Driver twin of [[graft.expressions.PqKernels.encode]] (codes only;
      * offset-shift already applied). */
    def encode(v: Array[Double], coarse: Array[Double]): Array[Byte] = {
      val codes = new Array[Byte](m)
      var j = 0
      while (j < m) {
        val base = j * dsub
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < codebooks(j).length) {
          val cent = codebooks(j)(c)
          var acc = 0.0
          var t = 0
          while (t < dsub) {
            val x = v(base + t) - (if (coarse.length > base + t) coarse(base + t) else 0.0)
            val diff = x - cent(t)
            acc += diff * diff
            t += 1
          }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        codes(j) = (best - 128).toByte
        j += 1
      }
      codes
    }

    /** coarse + decode(codes): the reconstruction ADC ranks against. */
    def reconstruct(codes: Array[Byte], coarse: Array[Double]): Array[Double] = {
      val out = new Array[Double](dim)
      var j = 0
      while (j < m) {
        val cent = codebooks(j)(codes(j) + 128)
        var t = 0
        while (t < dsub) {
          out(j * dsub + t) = cent(t) +
            (if (coarse.length > j * dsub + t) coarse(j * dsub + t) else 0.0)
          t += 1
        }
        j += 1
      }
      out
    }
  }

  final case class Paths(dir: String) {
    def centroids: String = s"$dir/centroids.parquet"
    def codebooks: String = s"$dir/codebooks.parquet"
    def assigned: String = s"$dir/assigned.parquet"
  }

  /** Train PQ codebooks on a hash-deterministic bounded sample of
    * residuals. Sample target = k·samplePerCode rows regardless of corpus
    * size (FAISS trains PQ on a few tens of points per code for the same
    * reason); Lloyd runs per subspace on the driver — iterating a few
    * thousand dsub-dim points is microseconds, and running it as Spark
    * jobs would cost m·iters shuffles to average a sample that fits in
    * one L2 cache. Deterministic: sample keyed + sorted by xxhash64(id),
    * Forgy init strided through hash order (the trainIvfCentroids
    * device), ties in assignment break to the lowest code.
    *
    * `residuals` carries (_id, _v, plus a `_cp` coarse-position column
    * when training residuals; `coarseCents` indexed by that position). */
  def trainCodebooks(residuals: DataFrame, m: Int, k: Int,
      coarseCents: Array[Array[Double]], knownN: Option[Long] = None,
      iters: Int = 4, samplePerCode: Int = 64): PqModel = {
    require(k >= 1 && k <= 256, s"pq: k must be in [1, 256] (byte codes), got $k")
    val hasCell = residuals.columns.contains("_cp")
    // seeding hash + independent salted gate hash — the trainIvfCentroids
    // sampling device, kept identical so both trainers are deterministic
    // and layout-independent for the same corpus
    val salted = residuals.select(
      xxhash64(col("_id")).as("_h"),
      xxhash64(col("_id"), lit(0x5eedL)).as("_g"),
      col("_v"),
      (if (hasCell) col("_cp") else lit(-1)).as("_cp"))
    val n = knownN.getOrElse(residuals.count())
    val target = math.min(k.toLong * samplePerCode, n)
    val keepOneIn = math.max(1L, n / math.max(1L, target))
    val sampled =
      if (keepOneIn > 1L) salted.filter(pmod(col("_g"), lit(keepOneIn)) === 0) else salted
    val rows = sampled.select(col("_h"), col("_v"), col("_cp")).collect()
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        val cp = r.getInt(2)
        if (cp >= 0) {
          val cent = coarseCents(cp)
          val res = new Array[Double](v.length)
          var i = 0
          while (i < v.length) {
            res(i) = v(i) - (if (cent.length > i) cent(i) else 0.0); i += 1
          }
          (r.getLong(0), res)
        } else (r.getLong(0), v)
      }
      .sortBy(_._1)
    require(rows.nonEmpty, "pq: cannot train codebooks on an empty corpus")
    val d = rows(0)._2.length
    require(d % m == 0, s"pq: dim $d not divisible by m=$m subspaces")
    val dsub = d / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = rows.map { case (_, v) => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub) }
      lloydL2(sub, k, iters)
    }
    PqModel(m, dsub, k, codebooks)
  }

  /** Plain L2 Lloyd on driver-resident points; ALWAYS returns exactly k
    * centroids (an emptied cell keeps its previous centroid — codes must
    * stay dense in [0, k) so the byte layout and LUT stride are uniform).
    * Deterministic for a fixed input order. */
  private def lloydL2(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val dsub = points(0).length
    val kk = k
    // Forgy init, strided through (hash-sorted) input order; when the
    // sample is smaller than k the stride repeats points — duplicate
    // centroids are harmless (argmin ties to the lowest code).
    val cents = Array.tabulate(kk) { c =>
      val step = math.max(1, points.length / math.max(1, math.min(kk, points.length)))
      points(math.min(c * step, points.length - 1)).clone()
    }
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Double](kk, dsub)
      val counts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < kk) {
          var acc = 0.0
          var t = 0
          while (t < dsub) { val diff = p(t) - cents(c)(t); acc += diff * diff; t += 1 }
          if (acc < bestD) { bestD = acc; best = c }
          c += 1
        }
        var t = 0
        while (t < dsub) { sums(best)(t) += p(t); t += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < kk) {
        if (counts(c) > 0) {
          var t = 0
          while (t < dsub) { cents(c)(t) = sums(c)(t) / counts(c); t += 1 }
        } // empty cell: keep previous centroid
        c += 1
      }
    }
    cents
  }

  /** Build and persist the IVF-PQ index: coarse train + assign, residual
    * PQ train, ONE map-only encode pass, cell-partitioned write. Storage
    * row: (_id, codes m bytes, _rn reconstructed norm, cell_id).
    * Returns the vector count. The artifact is unpublished throughout
    * ([[IndexArtifact]]). */
  def build(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, outDir: String, m: Int = 8, k: Int = 256): Long = {
    val spark = vectors.sparkSession
    val p = Paths(outDir)
    IndexArtifact.unpublish(spark, outDir)
    val n = vectors.count()
    val cents = Similarity.trainIvfCentroids(vectors, idCol, vecCol, nCells, knownN = Some(n))
    cents.write.mode("overwrite").parquet(p.centroids)
    val centRows = cents.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val cellIds = centRows.map(_._1)
    val centArr = centRows.map(_._2)
    // nearest_cell returns the POSITION into the sorted centroid list —
    // exactly the index pq_encode needs into coarseCents
    val assigned = vectors
      .select(col(idCol).as("_id"), VF.vecAsDouble(col(vecCol)).as("_v"))
      .withColumn("_cp", VectorExprs.nearest_cell(col("_v"), centArr))
    val model = trainCodebooks(assigned, m, k, centArr, knownN = Some(n))
    saveCodebooks(spark, p, model)
    val encoded = assigned
      .withColumn("_e", PqExprs.pq_encode(col("_v"), col("_cp"), centArr, model.codebooks))
      .select(col("_id"),
        col("_e.codes").as("_codes"), col("_e.rnorm").as("_rn"),
        get(typedlit(cellIds.toSeq), col("_cp")).as("cell_id"))
    encoded.repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(p.assigned)
    // persist the ACTUAL cell count (the trainer drops empty cells), the
    // same value the append path recomputes — so metadata.n_cells never
    // silently changes across an update that touched no cells
    publishMetadata(spark, outDir, n, cellIds.length, model)
    n
  }

  private def saveCodebooks(spark: SparkSession, p: Paths, model: PqModel): Unit = {
    import spark.implicits._
    val rows = for {
      j <- 0 until model.m
      c <- 0 until model.k
    } yield (j, c, model.codebooks(j)(c).toSeq)
    rows.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(p.codebooks)
  }

  private def publishMetadata(spark: SparkSession, dir: String, n: Long, nCells: Int,
      model: PqModel): Unit =
    IndexArtifact.publish(spark, dir, Json.obj().put("n_vectors", n)
      .put("n_cells", nCells).put("metric", "cosine").put("pq_m", model.m)
      .put("pq_k", model.k).put("pq_dsub", model.dsub))

  /** Coarse centroids + codebooks are bounded model objects a serving
    * loop reads every batch, and the codes a relation every batch plans
    * against — keep them per artifact generation ([[CellTable]], the
    * VectorIndex device). */
  private val modelCache = new GenerationCache[(CellTable, PqModel)]()

  private def loadModel(spark: SparkSession, p: Paths, gen: Long): (CellTable, PqModel) =
    modelCache(p.dir, gen, spark, _._1.spark) {
      val cbRows = spark.read.parquet(p.codebooks)
        .select("subspace", "code", "centroid").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray))
        .toMap
      val m = cbRows.keys.map(_._1).max + 1
      val k = cbRows.keys.map(_._2).max + 1
      val cb = Array.tabulate(m, k)((j, c) => cbRows((j, c)))
      val dsub = cb(0)(0).length
      (CellTable.load(spark, p.centroids, p.assigned), PqModel(m, dsub, k, cb))
    }

  /** ADC search over the persisted index: nProbe-cell pruned top-k per
    * query, scored by (dot(q, coarse_cell) + ADC(lut, codes)) /
    * (‖q‖·‖x̂‖). The per-query LUT (m·k doubles) is computed BEFORE the
    * probe explode — once per query, not once per probed cell — and the
    * per-(query, cell) coarse dot is one vec_dot against the literal
    * centroid list. Only the probed cells' files are read (the
    * VectorIndex pruning, [[CellTable.candidates]]), and each candidate
    * row carries m bytes instead of d floats. */
  def search(spark: SparkSession, outDir: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    VectorExprs.register(spark)
    val (table, model) = loadModel(spark, Paths(outDir), IndexArtifact.published(spark, outDir))
    val corpus = table.assigned
      .select(col("_id").as("neighbor_id"), col("_codes"), col("_rn"), col("cell_id"))
    val probes = queries
      .withColumn("_qn", Similarity.norm(col("qv")))
      .withColumn("_lut", PqExprs.pq_lut(col("qv"), model.codebooks, model.k))
      .withColumn("_pi",
        explode(graft.expressions.VectorExprs.probe_cells(col("qv"), table.cents, nProbe)))
      .withColumn("_qc",
        VectorExprs.vec_dot(col("qv"), get(typedlit(table.cents.map(_.toSeq).toSeq), col("_pi"))))
      .select(col("query_id"), col("_pi"), col("_lut"), col("_qc"), col("_qn"))
    val cands = table.candidates(probes, corpus)
    val sims = cands.select(col("query_id"), col("neighbor_id"),
      Similarity.cosineSim(col("_qc") + PqExprs.pq_adc(col("_lut"), col("_codes"), model.k),
        col("_qn"), col("_rn")).as("sim"))
    Similarity.perQueryTopK(sims, k)
  }

  /** Two-stage serving: ADC shortlist of `window` candidates per query,
    * exact-cosine re-rank against the ORIGINAL vectors, final top-k —
    * the standard IVFADC+refine pattern (FAISS's `IndexRefineFlat`). A
    * code quantizer cannot resolve sim gaps below its distortion, so the
    * codes pick the shortlist cheaply (m-byte candidates) and the float
    * store is touched only for |Q|·window rows ([[Similarity.rerank]]).
    * `vectors` is the primary (id, vector) store — the embeddings table
    * or the float index's columns. */
  def searchReranked(spark: SparkSession, outDir: String, queries: DataFrame,
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, window: Int = 50): DataFrame = {
    require(window >= k, s"pq rerank: window $window must be >= k $k")
    Similarity.rerank(search(spark, outDir, queries, window, nProbe), queries,
      vectors.select(col(idCol).as("neighbor_id"), VF.vecAsDouble(col(vecCol)).as("nv")), k)
  }

  /** Incremental update, the VectorIndex J6/E3 contract with one honest
    * difference: PQ codes are LOSSY, so the index can NEVER serve as its
    * own rebuild corpus (reconstruction drift would compound across
    * rebuilds) — `vectors` must therefore be the CURRENT FULL corpus,
    * not a delta. New ids (left_anti against the stored codes) append
    * through ONE map-only encode pass with the PERSISTED model — no
    * retraining, exactly how FAISS `add()`s to a trained IndexIVFPQ;
    * past the 30% ratio the whole index rebuilds (fresh centroids AND
    * codebooks — enough new mass to shift both). Returns
    * "append" | "rebuild" | "noop". */
  def update(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, outDir: String, m: Int = 8, k: Int = 256): String = {
    val spark = vectors.sparkSession
    val p = Paths(outDir)
    // appending onto an unpublished artifact would compound a crashed
    // write, so refuse and direct the caller to rebuild
    val gen = IndexArtifact.published(spark, outDir)
    val existingIds = spark.read.parquet(p.assigned).select(col("_id").as(idCol))
    val fresh = vectors.join(existingIds, Seq(idCol), "left_anti").cache()
    try {
      val nNew = fresh.count()
      if (nNew == 0) return "noop"
      val nExisting = existingIds.count()
      if (nExisting == 0 || nNew.toDouble / nExisting > 0.3) {
        build(vectors, idCol, vecCol, nCells, outDir, m = m, k = k)
        "rebuild"
      } else {
        val (table, model) = loadModel(spark, p, gen)
        val assigned = fresh
          .select(col(idCol).as("_id"), VF.vecAsDouble(col(vecCol)).as("_v"))
          .withColumn("_cp", VectorExprs.nearest_cell(col("_v"), table.cents))
        val encoded = assigned
          .withColumn("_e",
            PqExprs.pq_encode(col("_v"), col("_cp"), table.cents, model.codebooks))
          .select(col("_id"),
            col("_e.codes").as("_codes"), col("_e.rnorm").as("_rn"),
            get(typedlit(table.cellIds), col("_cp")).as("cell_id"))
        IndexArtifact.unpublish(spark, outDir)
        encoded.repartition(col("cell_id"))
          .write.mode("append").partitionBy("cell_id").parquet(p.assigned)
        publishMetadata(spark, outDir, nExisting + nNew, table.cellIds.length, model)
        "append"
      }
    } finally fresh.unpersist()
  }
}
