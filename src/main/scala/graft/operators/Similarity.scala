package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.VectorExprs
import graft.functions.{VectorFunctions => VF}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Semantic contract: "top-k neighbors by cosine" (reference:
  * src/lakehouse/indexing/faiss_builder.py:60-147 HNSW;
  * quality/metrics/embedding.py:408-472 exact top-k). Exact brute force
  * is the oracle-checkable baseline; IVF coarse quantization is the scale
  * path — it turns the global crossJoin into a per-cell join, i.e. a
  * partition-pruned search, the Spark analog of FAISS's nlist/nprobe.
  */
object Similarity {

  /** The cosine ranking contract every top-k path shares — the DuckDB
    * oracle's: sim = dot(q, n) / (‖q‖·‖n‖), ranked rounded HALF_UP to 6
    * dp. A zero norm on either side gives a NULL sim, the oracle's
    * `x / 0.0 → NULL` (`try_divide`, so ANSI never throws), which
    * [[perQueryTopK]] ranks after every real sim; NaN ranks first; ties
    * break on the ascending neighbor id. The JVM kernels ([[TopKKernel]],
    * HNSW's in-cell scorers) apply the same rule through
    * [[SimilarityKernels.cosineKey]]; CosineContractSpec pins every path. */
  def cosine(dot: Column, normA: Column, normB: Column): Column =
    try_divide(dot, normA * normB)

  /** [[cosine]] rounded HALF_UP to `roundDp` places: the ranked sim. */
  def cosineSim(dot: Column, normA: Column, normB: Column, roundDp: Int = 6): Column =
    round(cosine(dot, normA, normB), roundDp)

  /** ‖v‖ in the kernels' accumulation order ([[VectorExprs.vec_dot]];
    * requires [[VectorExprs.register]]). */
  def norm(v: Column): Column = sqrt(VectorExprs.vec_dot(v, v))

  /** Exact top-k by cosine: queries × corpus.
    * queries: (query_id, qv double[]); corpus: (neighbor_id, nv double[]).
    * The (small, guarded) query side is collected and broadcast; the
    * corpus side runs a partition-local exact top-k KERNEL
    * ([[TopKKernel]]): each task scores its rows against every query in
    * a tight primitive-array loop and keeps only the per-partition top-k
    * per query under the [[cosine]] contract, so the final agg merges
    * |Q|·partitions·k candidate rows into exactly the result of
    * [[topKExactJoin]], without materializing the |Q|·n joined rows. A
    * null query id yields no rows; ids must both be strings or both
    * integral. Still O(|Q|·n) compute — guarded on the QUERY side like
    * its blocked/LSH siblings; bulk query sets belong on the IVF path. */
  def topKExact(queries: DataFrame, corpus: DataFrame, k: Int,
      roundDp: Int = 6, maxQueries: Long = 10000L): DataFrame = {
    Guards.requireAtMost(queries, maxQueries, "topKExact",
      "switch to the IVF path (VectorIndex.build + VectorIndex.search) for bulk query sets")
    kernelTopK(queries.select(col("query_id"), col("qv")),
      corpus.select(col("neighbor_id"), col("nv")), k, roundDp)
  }

  /** Collect the query side (id, vector[, label]) and run [[TopKKernel]]
    * over the spread corpus side (id, vector[, label]). */
  private def kernelTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      roundDp: Int): DataFrame = {
    import org.apache.spark.sql.types._
    val idTypes = Seq(queries.schema.head.dataType, corpus.schema.head.dataType)
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    require(idTypes.forall(_ == StringType) || idTypes.forall(integral),
      "top-k ids must both be strings or both integral (byte, short, int, long); " +
        s"got query ${idTypes.head.simpleString}, neighbor ${idTypes(1).simpleString}")
    if (queries.schema.length == 3)
      require(queries.schema(2).dataType == corpus.schema(2).dataType,
        s"query and neighbor labels must share a type; got " +
          s"${queries.schema(2).dataType.simpleString}, ${corpus.schema(2).dataType.simpleString}")
    val qRows = queries.filter(col("query_id").isNotNull).collect()
    val cands = TopKKernel.partitionTopK(graft.core.Par.spread(corpus), qRows,
      idTypes.head, idTypes(1), k, roundDp)
    perQueryTopK(cands, k)
  }

  /** The broadcast-nested-loop formulation of [[topKExact]]: the
    * reference CosineContractSpec and SimilaritySpec pin the kernel
    * paths against. */
  private[graft] def topKExactJoin(queries: DataFrame, corpus: DataFrame,
      k: Int, roundDp: Int = 6): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val q = queries.withColumn("_qn", norm(col("qv")))
    val c = corpus.withColumn("_nn", norm(col("nv")))
    val joined = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
    perQueryTopK(joined.select(col("query_id"), col("neighbor_id"),
      cosineSim(VectorExprs.vec_dot(col("qv"), col("nv")), col("_qn"), col("_nn"), roundDp)
        .as("sim")), k)
  }

  /** Exact rerank of a (query_id, neighbor_id) shortlist: the bounded
    * shortlist joins the query vectors (query_id, qv) and broadcasts
    * onto the vector store (neighbor_id, nv double[]), so the store
    * never shuffles and its scan prunes to the two columns; each pair
    * is scored by the [[cosine]] contract and ranked by
    * [[perQueryTopK]]. The refine step of the PQ and HNSW+PQ serving
    * paths (FAISS's `IndexRefineFlat`). */
  def rerank(shortlist: DataFrame, queries: DataFrame, store: DataFrame,
      k: Int): DataFrame = {
    VectorExprs.register(queries.sparkSession)
    val q = queries.select(col("query_id"), col("qv")).withColumn("_qn", norm(col("qv")))
    val pairs = broadcast(shortlist.select("query_id", "neighbor_id").join(q, "query_id"))
      .join(store.select(col("neighbor_id"), col("nv")), "neighbor_id")
    perQueryTopK(pairs.select(col("query_id"), col("neighbor_id"),
      cosineSim(VectorExprs.vec_dot(col("qv"), col("nv")), col("_qn"), norm(col("nv")))
        .as("sim")), k)
  }

  /** Per-query top-k over a (query_id, neighbor_id, sim) frame via the
    * bounded heap aggregate, NOT a ranking window: the window shuffles
    * every (query, candidate) sim row to its query's reducer before
    * discarding all but k, while topk_min's partial buffers cap map-side
    * output at k rows per query per partition — the shuffle carries
    * |Q|·partitions·k rows instead of |Q|·n. Ordering matches
    * `row_number over (sim DESC, id ASC)` bit-for-bit: the sort key maps
    * NaN sims first (SQL DESC puts NaN largest) and null sims last
    * (DESC NULLS LAST), ties break on the ascending neighbor id, and the
    * original sim rides along unmapped. Shared by every top-k path. */
  def perQueryTopK(sims: DataFrame, k: Int): DataFrame = {
    val sortKey = when(isnan(col("sim")), lit(Double.NegativeInfinity))
      .when(col("sim").isNull, lit(Double.PositiveInfinity))
      .otherwise(-col("sim"))
    sims.groupBy("query_id")
      .agg(graft.expressions.TopKMin.topkMin(
        struct(sortKey.as("ns"), col("neighbor_id").as("nid"), col("sim").as("s")), k).as("_tk"))
      .select(col("query_id"), posexplode(col("_tk")))
      .select(col("query_id"), col("col.nid").as("neighbor_id"),
        col("col.s").as("sim"), (col("pos") + 1).as("rnk"))
  }

  /** X98 hard-negative mining — contrastive-training data prep (public
    * device from dense-retrieval training, DPR/ANCE style): for each
    * labeled query vector, the top-k most-similar corpus vectors with a
    * DIFFERENT label. High-sim different-label items are exactly the
    * "hard" negatives a contrastive objective learns most from (random
    * negatives are trivially separable).
    *
    * Same kernel as [[topKExact]], with the label predicate inside its
    * loop: a pair qualifies only when both labels are non-null and
    * differ (the SQL `c.label <> q.label`), so disqualified pairs are
    * never scored and the corpus never shuffles. queries: (query_id, qv,
    * qlabel); corpus: (neighbor_id, nv, nlabel), labels of one type. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      roundDp: Int = 6, maxQueries: Long = 10000L): DataFrame = {
    Guards.requireAtMost(queries, maxQueries, "hardNegatives",
      "mine hard negatives in IVF-bucketed batches for bulk query sets")
    kernelTopK(queries.select(col("query_id"), col("qv"), col("qlabel")),
      corpus.select(col("neighbor_id"), col("nv"), col("nlabel")), k, roundDp)
  }

  /** X85 embedding-space benchmark decontamination — the semantic sibling
    * of the n-gram path ([[Corpus.decontaminate]], reference analog:
    * eval-set leakage checks in quality/metrics/embedding.py): flag every
    * corpus vector whose cosine against ANY eval vector reaches `tau`,
    * reporting the closest eval item per flagged row. Catches paraphrased
    * contamination that exact n-gram matching misses.
    *
    * Scale shape: the eval side is a benchmark — bounded by definition —
    * and broadcasts; the corpus scans ONCE, map-only, with norms computed
    * per side before the join. Rows are filtered to sim ≥ tau *before*
    * the vec-keyed argmax agg, so the single shuffle carries only flagged
    * pairs (≈ contamination rate × |corpus|), never the corpus itself.
    * corpus: (idCol, vecCol); evalSet: (eval_id, eval_vec). */
  def decontamByEmbedding(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double,
      roundDp: Int = 6, maxEval: Long = 100000L): DataFrame = {
    Guards.requireAtMost(evalSet, maxEval, "decontamByEmbedding",
      "an eval benchmark is bounded; route corpus-vs-corpus similarity through cosinePairsAboveIvf")
    VectorExprs.register(corpus.sparkSession)
    val ev = evalSet.withColumn("_en", norm(col("eval_vec")))
    val c = graft.core.Par.spread(corpus).withColumn("_cn", norm(col(vecCol)))
    c.crossJoin(broadcast(ev))
      .select(col(idCol), col("eval_id"),
        cosine(VectorExprs.vec_dot(col(vecCol), col("eval_vec")), col("_cn"), col("_en"))
          .as("sim"))
      .filter(col("sim") >= tau) // a null (zero-norm) sim is never flagged
      // argmax as min(struct): (−sim, eval_id) ascending == (sim desc,
      // eval_id asc) — one agg, map-side combinable, no window
      .groupBy(col(idCol))
      .agg(min(struct((-col("sim")).as("ns"), col("eval_id").as("e"))).as("_w"))
      .select(col(idCol), col("_w.e").as("eval_id"),
        round(-col("_w.ns"), roundDp).as("sim"))
  }

  /** Deterministic IVF training: cells seeded by `hash(id) % nCells`,
    * then `iters` Lloyd steps. Returns (cell_id, centroid double[]).
    *
    * Lloyd runs on a deterministic hash SAMPLE of ~`samplePerCell` rows
    * per cell, never the full corpus: coarse-quantizer routing only needs
    * the density shape, which a few hundred points per centroid capture
    * (FAISS trains IVF on ~256/centroid — faiss_builder.py:60-147's
    * effective cost). The sample is a bounded model object
    * (nCells·samplePerCell rows regardless of corpus size), so it is
    * collected ONCE and Lloyd iterates on the driver — exactly how FAISS
    * trains its coarse quantizer. Running the iterations as Spark jobs
    * costs 3 job launches + 3 shuffles to average a few-MB table; on the
    * driver the same arithmetic is microseconds. The full corpus is
    * touched exactly once afterwards, by the caller's single map-only
    * [[assignToNearest]] pass.
    *
    * Determinism: rows are keyed by xxhash64(id) and sorted by that key
    * after collect, so seeding, accumulation order, and therefore the
    * centroids are independent of cluster layout.
    *
    * `knownN` lets a caller that already counted the corpus (e.g.
    * [[graft.index.VectorIndex.build]]) skip the sampling-rate count. */
  def trainIvfCentroids(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iters: Int = 2, samplePerCell: Int = 256,
      knownN: Option[Long] = None): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val all = vectors.select(xxhash64(col(idCol)).as("_h"),
      // salted gate hash, independent of the seeding hash above
      xxhash64(col(idCol), lit(0x5eedL)).as("_g"),
      VF.vecAsDouble(col(vecCol)).as("_v"))
    val n = knownN.getOrElse(vectors.count())
    val target = math.min(nCells.toLong * samplePerCell, n)
    val keepOneIn = math.max(1L, n / math.max(1L, target))
    val sampled = if (keepOneIn > 1L) all.filter(pmod(col("_g"), lit(keepOneIn)) === 0) else all
    val rows = sampled.select(col("_h"), col("_v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // Forgy-style init on the hash-sorted sample: nCells DISTINCT sample
    // points, evenly strided through hash order (deterministic, layout-
    // independent). Hash-partition MEANS would start every centroid near
    // the global mean, and Lloyd from near-identical centroids collapses
    // cells — bad pruning for IVF, merged topics for k-means clustering.
    var cells: Array[(Int, Array[Double])] = {
      val k = math.min(nCells, rows.length)
      val step = math.max(1, rows.length / math.max(1, k))
      Array.tabulate(k)(c => (c, rows(math.min(c * step, rows.length - 1))._2.clone()))
    }
    for (_ <- 1 to iters)
      cells = meanByCell(rows.map { case (_, v) => (nearestOf(cells, v), v) })
    cells.toSeq.map { case (c, cent) => (c, cent.toSeq) }.toDF("cell_id", "centroid")
  }

  /** Elementwise mean per cell, accumulated in input (hash-sorted) order;
    * empty cells are dropped, output sorted by cell_id. */
  private def meanByCell(assigned: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    val acc = scala.collection.mutable.TreeMap.empty[Int, (Array[Double], Array[Long])]
    assigned.foreach { case (c, v) =>
      val (s, cnt) = acc.getOrElseUpdate(c, (new Array[Double](v.length), new Array[Long](1)))
      var i = 0
      while (i < math.min(s.length, v.length)) { s(i) += v(i); i += 1 }
      cnt(0) += 1
    }
    acc.iterator.map { case (c, (s, cnt)) => (c, s.map(_ / cnt(0))) }.toArray
  }

  /** Driver twin of [[graft.expressions.CellKernels.nearestCell]]: argmax
    * of dot(v, cent)/‖cent‖ over cells (cell_id-sorted), strict `>` so
    * ties go to the lowest cell_id; a zero centroid can never win. */
  private def nearestOf(cells: Array[(Int, Array[Double])], v: Array[Double]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cells.length) {
      val cent = cells(c)._2
      var accD = 0.0; var nrm = 0.0; var i = 0
      val n = math.min(cent.length, v.length)
      while (i < n) { accD += v(i) * cent(i); i += 1 }
      i = 0
      while (i < cent.length) { nrm += cent(i) * cent(i); i += 1 }
      val score = if (nrm > 0) accD / math.sqrt(nrm) else -2.0
      if (score > bestScore) { bestScore = score; best = c }
      c += 1
    }
    cells(best)._1
  }

  /** Assign each vector to its nearest centroid — MAP-ONLY. The centroid
    * table is a model object (nCells rows by construction), so it is
    * collected once and bound into a codegen expression
    * ([[graft.expressions.NearestCellExpr]]): one tight cells×dims loop
    * per vector, no crossJoin materializing nCells rows per vector and
    * no argmin shuffle. Ties break toward the lowest cell_id (same order
    * as cosine desc, cell_id asc); a zero centroid can never win. */
  def assignToNearest(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val rows = centroids.select(col("cell_id"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cellIds: Seq[Int] = rows.map(_._1).toSeq
    val idx = VectorExprs.nearest_cell(col("_v"), rows.map(_._2))
    vectors.select(col("_id"), col("_v"),
      // the expression returns a position into the sorted cell list;
      // translate back to the (possibly sparse) cell_id
      get(typedlit(cellIds), idx).as("cell_id"))
  }

  /** Exact global top-k most-similar pairs by cosine — blocked all-pairs.
    *
    * The naive shape (crossJoin + per-pair expression) materializes an
    * n²/2-row intermediate that carries two full vectors per row; at
    * n = 2000 / d = 64 that is already ~25 s of row-copy overhead for
    * ~0.1 s of arithmetic. Here the n² loop runs inside a tight JVM
    * kernel over packed blocks instead:
    *
    *   1. vectors are bucketed into `nBlocks` groups (`id % nBlocks`),
    *      each packed into one row via collect_list — total shuffled
    *      bytes = the corpus itself, once;
    *   2. the B×(B+1)/2 block pairs are distributed as tasks (a
    *      self-join on block id, every executor sees only its pairs);
    *   3. each task computes its sub-rectangle of the similarity matrix
    *      with a bounded worst-first heap, emitting ≤ k rows;
    *   4. a final sort of ≤ k·B²/2 tiny rows yields the global top-k.
    *
    * Scale story: network is O(B·n·d) instead of O(n²·d), flops
    * parallelize across B²/2 tasks, and no single node ever holds more
    * than two blocks. At 100 TB one would raise nBlocks so a block fits
    * comfortably in a task (or switch to the IVF path below for
    * approximate search).
    *
    * Exactness: per pair the kernel computes
    * round(dot(a,b)/(sqrt(dot(a,a))·sqrt(dot(b,b))), roundDp) with
    * left-to-right double accumulation and BigDecimal HALF_UP rounding —
    * bit-identical to both the previous Spark expression formulation and
    * the DuckDB oracle. The heap orders by (rounded sim desc, id_a,
    * id_b), the same total order as the final sort, so selection is
    * exact including rounding ties.
    */
  def topPairsExactBlocked(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nBlocks: Int = 8, roundDp: Int = 6,
      maxRows: Long = Guards.DefaultExactPairRows): DataFrame = {
    Guards.requireAtMost(df, maxRows, "topPairsExactBlocked",
      "on a duplicate-dense corpus collapse exact twins first via " +
        "topPairsExactCollapsed (preserves the exact contract); otherwise " +
        "switch to the IVF path (VectorIndex.build + VectorIndex.search) for the approximate regime")
    blockedTopCore(
      df.select(col(idCol).cast("long").as("_id"), VF.vecAsDouble(col(vecCol)).as("_v")),
      k, nBlocks, roundDp)
  }

  /** Shared core of the blocked exact top-k: input is an (_id long,
    * _v double[]) frame; output is the global top-k (id_a, id_b, sim). */
  private def blockedTopCore(ids: DataFrame, k: Int, nBlocks: Int,
      roundDp: Int): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val packed = ids
      .groupBy(pmod(col("_id"), lit(nBlocks)).cast("int").as("bid"))
      .agg(collect_list(struct(col("_id"), col("_v"))).as("items"))
    val a = packed.select(col("bid").as("bid_a"), col("items").as("ia"))
    val b = packed.select(col("bid").as("bid_b"), col("items").as("ib"))
    val blockPairs = a.join(b, col("bid_a") <= col("bid_b"))
      // one task per block pair: the kernel is the unit of work
      .repartition(nBlocks * (nBlocks + 1) / 2, col("bid_a"), col("bid_b"))
    val top = blockPairs
      .as[(Int, Array[(Long, Array[Double])], Int, Array[(Long, Array[Double])])]
      .mapPartitions { it =>
        it.flatMap { case (ba, ia, bb, ib) =>
          SimilarityKernels.topPairs(ia, if (ba == bb) null else ib, k, roundDp)
        }
      }
      .toDF("id_a", "id_b", "sim")
    top.orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(k)
  }

  /** [[topPairsExactBlocked]] with exact-duplicate pre-collapse — the
    * vector analog of `Dedup.minhashNearDups(preCollapse = true)`, for
    * corpora whose duplicate density makes the exact kernel's true pair
    * mass quadratic (a crawl dump where one page has 10⁵ verbatim
    * copies: its vectors are bit-identical, and every one of the
    * C(10⁵, 2) twin pairs scores cosine 1.0 — the exact top-k contract
    * CANNOT skip them, but it can stop paying n²·d flops for them).
    *
    * Vectors are grouped by VALUE (the full double array, not a digest —
    * a digest collision would merge two distinct vectors into a false
    * sim-1.0 family); the blocked kernel then runs over one
    * representative per distinct vector, and the top-k rep pairs are
    * re-expanded through group membership. Within-group pairs (identical
    * vectors, sim = round(dot(v,v)/‖v‖², dp) — 1.0 up to the kernel's own
    * arithmetic) come from a bounded generator: each group emits only its
    * first min(k, C(m,2)) member pairs in (id_a, id_b) order, which is
    * all that can ever reach a global top-k.
    *
    * EXACTNESS (same output as [[topPairsExactBlocked]], spec-asserted):
    * representatives are group minima, so a rep pair's best expanded pair
    * is the rep pair itself; if a cross-group pair belongs to the true
    * top-k, every rep pair ordered before its rep pair contributes a
    * strictly better pair, so its rep pair is inside the top-k rep pairs
    * the kernel keeps. Within-group candidates all carry their group's
    * single sim value, and only a group's k smallest-id pairs can survive
    * the final (sim desc, id_a, id_b) limit. Zero-norm and NaN vectors
    * are excluded by both paths (cosine undefined).
    *
    * Scale story: the kernel's O(B·n_rep·d) network and n_rep²·d/2 flops
    * are paid on DISTINCT vectors only; an f-fold duplicated corpus costs
    * f² less kernel work plus one value-keyed shuffle of the corpus (the
    * same mass the blocked pack shuffles anyway). The size guard moves to
    * representatives — the deduplicated corpus is what must fit the exact
    * contract, not the raw row count. */
  def topPairsExactCollapsed(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nBlocks: Int = 8, roundDp: Int = 6,
      maxReps: Long = Guards.DefaultExactPairRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // localCheckpoint: the grouped frame feeds the rep kernel, both
    // expansion joins, and the within-group generator.
    val grouped = df
      .select(col(idCol).cast("long").as("_id"), VF.vecAsDouble(col(vecCol)).as("_v"))
      .groupBy(col("_v"))
      .agg(min(col("_id")).as("_rep"),
        sort_array(collect_list(col("_id"))).as("_ms"),
        count(lit(1)).as("_m"))
      .localCheckpoint(false)
    val reps = grouped.select(col("_rep").as("_id"), col("_v"))
    Guards.requireAtMost(reps, maxReps, "topPairsExactCollapsed",
      "switch to the IVF path (VectorIndex.build + VectorIndex.search) for the approximate regime")
    val repTop = blockedTopCore(reps, k, nBlocks, roundDp)
    // cross-group: every member of A × every member of B at the reps'
    // sim; ids re-ordered (members of a later group can carry smaller
    // ids than an earlier group's). repTop is ≤ k rows — broadcast it
    // through both joins so membership never shuffles.
    val memA = grouped.select(col("_rep").as("id_a"), col("_ms").as("_ma"))
    val memB = grouped.select(col("_rep").as("id_b"), col("_ms").as("_mb"))
    val expanded = broadcast(broadcast(repTop).join(memA, "id_a"))
      .join(memB, "id_b")
      .select(explode(col("_ma")).as("_a"), col("_mb"), col("sim"))
      .select(col("_a"), explode(col("_mb")).as("_b"), col("sim"))
      .select(least(col("_a"), col("_b")).as("id_a"),
        greatest(col("_a"), col("_b")).as("id_b"), col("sim"))
    val within = grouped.filter(col("_m") >= 2)
      .select(col("_ms"), col("_v")).as[(Array[Long], Array[Double])]
      .flatMap { case (ms, v) => SimilarityKernels.withinPairs(ms, v, k, roundDp) }
      .toDF("id_a", "id_b", "sim")
    expanded.unionByName(within)
      .orderBy(col("sim").desc, col("id_a"), col("id_b")).limit(k)
  }

  /** All pairs (a < b) with cosine above a threshold, blocked by optional
    * key columns (embedding-based near-dup detection). Without block
    * columns this is a full crossJoin — guarded like its exact-pair
    * siblings; provide blockCols (or switch to IVF) past the cap. */
  def cosinePairsAbove(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCols: Seq[String] = Nil,
      maxRows: Long = Guards.DefaultExactPairRows): DataFrame = {
    if (blockCols.isEmpty)
      Guards.requireAtMost(df, maxRows, "cosinePairsAbove",
        "pass blockCols to bound the self-join, or use cosinePairsAboveIvf for the approximate regime")
    val base = df.select((blockCols.map(col) :+ col(idCol) :+
      VF.vecAsDouble(col(vecCol)).as("_v")): _*)
    val a = base.select((blockCols.map(col) :+ col(idCol).as("id_a") :+ col("_v").as("va")): _*)
    val b = base.select((blockCols.map(col) :+ col(idCol).as("id_b") :+ col("_v").as("vb")): _*)
    VectorExprs.register(df.sparkSession)
    val an = a.withColumn("_na", norm(col("va")))
    val bn = b.withColumn("_nb", norm(col("vb")))
    val joined = if (blockCols.nonEmpty) an.join(bn, blockCols) else an.crossJoin(bn)
    joined.filter(col("id_a") < col("id_b"))
      .withColumn("sim", cosineSim(VectorExprs.vec_dot(col("va"), col("vb")), col("_na"), col("_nb")))
      .filter(col("sim") >= threshold) // a null (zero-norm) sim never pairs
      .select((blockCols.map(col) :+ col("id_a") :+ col("id_b") :+ col("sim")): _*)
  }

  /** The IVF regime of [[cosinePairsAbove]] — the path the guard names:
    * vectors are coarse-quantized to cells (sample-trained centroids, one
    * map-only assignment) and exact pairs are found WITHIN each cell.
    * The self-join key becomes cell_id, so the corpus-wide O(n²) falls to
    * Σ cell² — near-dup pairs sit close in embedding space, so recall
    * loss is confined to pairs straddling a cell boundary (measured in
    * tests on clustered data; raise nCells for tighter cells or run twice
    * with different seeds and union for higher recall). */
  def cosinePairsAboveIvf(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nCells: Int): DataFrame = {
    val cents = trainIvfCentroids(df, idCol, vecCol, nCells)
    val assigned = assignToNearest(
      df.select(col(idCol).as("_id"), VF.vecAsDouble(col(vecCol)).as("_v")), cents)
    cosinePairsAbove(
      assigned.select(col("cell_id"), col("_id").as(idCol), col("_v").as(vecCol)),
      idCol, vecCol, threshold, blockCols = Seq("cell_id"))
      .select("id_a", "id_b", "sim")
  }

  /** X81 SemDeDup — semantic deduplication over embeddings (public
    * method: Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication": cluster the embedding
    * space, drop all-but-one of each within-cluster near-identical
    * group). Candidates come from [[cosinePairsAboveIvf]] (cell-bucketed
    * exact cosine — Σ cell², never corpus²), components close via
    * [[Dedup.nearDupClusters]] (pointer-jumping label propagation), and
    * the kept representative is the component's min id. Returns every
    * input row with its `cluster_id` and a `keep` flag — the apply form
    * is one filter on `keep`.
    *
    * Recall caveat (inherent to SemDeDup itself, which also only
    * compares within clusters): duplicate pairs straddling a cell
    * boundary are missed; raise nCells for tighter cells or union runs
    * over two seeds. Measured on clustered data in SimilaritySpec. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nCells: Int = 16): DataFrame = {
    val pairs = cosinePairsAboveIvf(df, idCol, vecCol, threshold, nCells)
    semanticDedupFromPairs(df, idCol, pairs)
  }

  /** [[semanticDedup]] with random-hyperplane (sign-bit) cells instead of
    * learned IVF centroids — Charikar's SimHash-LSH bucketing (public):
    * cell i's bit is `v[i] > 0`, so the quantizer is a pure row
    * expression with NO trained model. Two consequences: (a) the whole
    * pipeline is deterministic and recomputable by any SQL engine, which
    * is what lets q85 carry a full hash oracle (IVF's sampled-kmeans
    * cells are not SQL-recomputable — that variant stays unit-gated);
    * (b) assignment is map-only with zero training pass, the cheapest
    * possible cell step at 100 TB. Trade-off: cells are data-independent,
    * so adversarially clustered corpora can skew a cell — the IVF
    * sibling is the adaptive-cell alternative when that matters. Same
    * within-cell exact-cosine + component semantics as [[semanticDedup]]. */
  def semanticDedupHyperplane(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nPlanes: Int = 4): DataFrame = {
    val pairs = cosinePairsAboveHyperplane(df, idCol, vecCol, threshold, nPlanes)
    semanticDedupFromPairs(df, idCol, pairs)
  }

  /** Sign-bit cell id for [[semanticDedupHyperplane]]: bit i = `v[i] > 0`
    * (axis-aligned hyperplanes — deterministic, model-free, map-only). */
  def hyperplaneCellId(vecCol: Column, nPlanes: Int): Column = {
    require(nPlanes > 0 && nPlanes < 63, s"need 0 < nPlanes < 63, got $nPlanes")
    val v = VF.vecAsDouble(vecCol)
    (0 until nPlanes).map(i =>
      when(element_at(v, i + 1) > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
  }

  /** The hyperplane-cell regime of [[cosinePairsAbove]] — the sibling of
    * [[cosinePairsAboveIvf]] with data-independent sign-bit cells
    * (2^nPlanes of them) instead of trained centroids. Recall trade
    * measured head-to-head in docs/SCALE.md, "SemDeDup cell
    * quantizers". */
  def cosinePairsAboveHyperplane(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int): DataFrame = {
    val assigned = df.select(col(idCol), col(vecCol))
      .withColumn("cell_id", hyperplaneCellId(col(vecCol), nPlanes))
    cosinePairsAbove(assigned, idCol, vecCol, threshold,
      blockCols = Seq("cell_id")).select("id_a", "id_b", "sim")
  }

  /** [[cosinePairsAboveHyperplane]] with the CELL ASSIGNMENT computed on
    * a whitened copy of the vectors ([[Whitening]], X102) while
    * verification stays raw-cosine. Correlated / mean-shifted dimensions
    * are exactly the failure mode of axis-aligned sign-bit cells (a
    * corpus with x₀ ≈ x₁ spends two bits on one direction; a positive
    * mean collapses most rows into the all-ones cell): whitening centers
    * and decorrelates, so each sign bit splits the corpus near-evenly
    * along an independent direction. The fit is one extra corpus pass
    * (bounded moment fold) and the assignment stays map-only; the pair
    * CONTRACT is unchanged — exact raw cosine within cells — so output
    * pairs are always a subset of [[cosinePairsAbove]]'s, at whatever
    * recall the cells achieve (table in docs/SCALE.md, "Whitened cell
    * assignment"). */
  def cosinePairsAboveHyperplaneWhitened(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nPlanes: Int,
      eps: Double = 1e-6): DataFrame = {
    val model = Whitening.fit(df, col(vecCol), eps)
    val assigned = df.select(col(idCol), col(vecCol))
      .withColumn("_w", graft.expressions.VectorExprs.whiten_vec(
        VF.vecAsDouble(col(vecCol)), model.mean, model.wPacked))
      .withColumn("cell_id", hyperplaneCellId(col("_w"), nPlanes))
      .drop("_w")
    cosinePairsAbove(assigned, idCol, vecCol, threshold,
      blockCols = Seq("cell_id")).select("id_a", "id_b", "sim")
  }

  /** [[cosinePairsAboveIvf]] with centroids trained and assigned in
    * whitened space (verification raw, like the hyperplane sibling).
    * K-means with Euclidean/cosine geometry under-weights directions
    * that whitening rescales to unit variance; on isotropic corpora this
    * is a no-op by construction. One extra id-keyed join carries the
    * whitened cell ids back to the raw vectors. */
  def cosinePairsAboveIvfWhitened(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double, nCells: Int,
      eps: Double = 1e-6): DataFrame = {
    val model = Whitening.fit(df, col(vecCol), eps)
    val wdf = Whitening.transform(df.select(col(idCol), col(vecCol)),
      col(vecCol), model, "_wv")
    val cents = trainIvfCentroids(wdf, idCol, "_wv", nCells)
    val assigned = assignToNearest(
      wdf.select(col(idCol).as("_id"), VF.vecAsDouble(col("_wv")).as("_v")), cents)
    val withCells = df.select(col(idCol), col(vecCol))
      .join(assigned.select(col("_id").as(idCol), col("cell_id")), idCol)
    cosinePairsAbove(withCells, idCol, vecCol, threshold,
      blockCols = Seq("cell_id")).select("id_a", "id_b", "sim")
  }

  /** X106 group-centroid similarity matrix: the pairwise cosine between
    * per-group embedding centroids — "which sources are semantically
    * the same feed" at a glance (mirror-site detection, near-duplicate
    * scrape feeds, license-pool overlap), the embedding-space sibling of
    * the token-level source-overlap audit (X94/q94).
    *
    * Scale shape: the corpus-sized work is ONE positional explode into a
    * (group, pos)-keyed sum — partial aggregation collapses each mapper
    * to groups×d rows before the shuffle, so the exchange never carries
    * the vector stream. Everything after is model-sized (groups×d), and
    * the pair join is an all-pairs over the CENTROID table only —
    * bounded by group count (a corpus has tens of sources, not
    * millions). Cosine is computed on the per-group SUM vectors (cosine
    * is scale-invariant, so sum ≡ mean) with each element summed as
    * DECIMAL(20,12): exact and order-free, so the DuckDB oracle
    * re-derives bit-identical centroids and the cosine rounds to the
    * same 6dp in both engines (the q18 list_dot_product precedent). */
  def groupCentroidSimilarity(df: DataFrame, groupCol: Column,
      vecCol: Column): DataFrame = {
    val sums = df
      .select(groupCol.as("_g"), posexplode(VF.vecAsDouble(vecCol)).as(Seq("_p", "_x")))
      .groupBy("_g", "_p")
      .agg(sum(col("_x").cast("decimal(20,12)")).as("_s"))
      .groupBy("_g")
      .agg(collect_list(struct(col("_p"), col("_s"))).as("_raw"))
      .select(col("_g"),
        transform(array_sort(col("_raw")), e => e.getField("_s").cast("double")).as("_c"))
    VectorExprs.register(df.sparkSession)
    val a = sums.select(col("_g").as("source_a"), col("_c").as("_ca"))
    val b = sums.select(col("_g").as("source_b"), col("_c").as("_cb"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        cosineSim(VectorExprs.vec_dot(col("_ca"), col("_cb")), norm(col("_ca")), norm(col("_cb")))
          .as("cos_sim"))
      .orderBy("source_a", "source_b")
  }

  /** X111 within-group embedding dispersion — the mode-collapse audit
    * for synthetic/templated sources, complementing [[groupCentroidSimilarity]]
    * (X106 asks "are two sources the same feed?"; this asks "did one
    * source collapse onto itself?"). Per group: the EXACT mean pairwise
    * squared L2 distance over all C(n,2) pairs, without forming any
    * pair, via the identity Σ_{i<j}‖xᵢ−xⱼ‖² = n·Σ‖xᵢ‖² − ‖Σxᵢ‖².
    * A healthy organic source sits near 2× its per-dimension variance
    * budget; near-zero means the source's embeddings have collapsed
    * (mass duplication, template text, or a degenerate encoder).
    *
    * Scale shape: ONE positional explode into a (group, pos)-keyed sum
    * with map-side partials — the exchange carries groups×d rows per
    * mapper, never the vector stream; both Σx (per position) and Σ‖x‖²
    * accumulate as DECIMAL(20,12) ⇒ exact and order-free, so the only
    * floating-point ops are the final closed-form combine (sequential
    * d-element dot of the centroid sums + two divisions, rounded 6 —
    * cross-engine identical). Groups need n ≥ 2 (mirrored HAVING). */
  def groupDispersion(df: DataFrame, groupCol: Column, vecCol: Column): DataFrame = {
    val expl = df.select(groupCol.as("_g"),
      posexplode(VF.vecAsDouble(vecCol)).as(Seq("_p", "_x")))
    val perPos = expl.groupBy("_g", "_p")
      .agg(sum(col("_x").cast("decimal(20,12)")).as("_s"),
        sum((col("_x") * col("_x")).cast("decimal(20,12)")).as("_q"),
        count(lit(1)).as("_n"))
    val perGroup = perPos.groupBy("_g")
      .agg(collect_list(struct(col("_p"), col("_s"))).as("_raw"),
        sum(col("_q")).as("_qq"),
        max(col("_n")).as("_n")) // every position sees all n vectors
      .select(col("_g"), col("_qq").cast("double").as("_qq"), col("_n"),
        transform(array_sort(col("_raw")), e => e.getField("_s").cast("double")).as("_c"))
      .filter(col("_n") >= 2)
    VectorExprs.register(df.sparkSession)
    perGroup
      .select(col("_g").as("source"), col("_n").as("n_vecs"),
        round((col("_n") * col("_qq") - VectorExprs.vec_dot(col("_c"), col("_c")))
          / ((col("_n") * (col("_n") - 1)) / lit(2.0)), 6).as("mean_sq_dist"),
        round(sqrt(col("_qq") / col("_n")), 6).as("rms_norm"))
      .orderBy("source")
  }

  /** Shared tail of the SemDeDup variants: close the near-dup pairs into
    * components and mark the min-id representative of each as kept. */
  private def semanticDedupFromPairs(df: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val clusters = Dedup.nearDupClusters(pairs)
    df.join(
        clusters.select(col("id").cast("long").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col(idCol).cast("long")))
      .withColumn("keep", col("cluster_id") === col(idCol).cast("long"))
  }
}

/** JVM-side kernels for [[Similarity.topPairsExactBlocked]]. Kept free of
  * Spark classes so they are trivially unit-testable. */
object SimilarityKernels {

  private final case class Entry(sim: Double, idA: Long, idB: Long)

  /** Heap order: head = WORST entry of the kept top-k under the output
    * order (sim desc, id_a asc, id_b asc). */
  private val worstFirst: Ordering[Entry] = new Ordering[Entry] {
    def compare(x: Entry, y: Entry): Int = {
      val c = java.lang.Double.compare(x.sim, y.sim)
      if (c != 0) c
      else {
        val ca = java.lang.Long.compare(y.idA, x.idA)
        if (ca != 0) ca else java.lang.Long.compare(y.idB, x.idB)
      }
    }
  }

  /** Ranking key of a null sim under [[cosineKey]]: after every real sim. */
  val NullKey: Double = Double.PositiveInfinity

  /** The [[Similarity.cosine]] contract as a JVM ranking key, smaller =
    * better, for `sim` = dot / `denom` with `denom` = ‖q‖·‖n‖: a zero
    * `denom` is the contract's null sim ([[NullKey]]), NaN ranks first
    * (−∞), any other sim keys as −sim. Callers break ties on the
    * ascending neighbor id. */
  @inline def cosineKey(sim: Double, denom: Double): Double =
    if (denom == 0.0) NullKey
    else if (java.lang.Double.isNaN(sim)) Double.NegativeInfinity
    else -sim

  /** Spark/DuckDB-compatible HALF_UP decimal rounding of a double. */
  def roundHalfUp(x: Double, dp: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(dp, java.math.RoundingMode.HALF_UP)
      .doubleValue()

  /** Top-k cosine pairs of a block rectangle. `ys == null` means the
    * within-block (triangular) case. Emits (id_a, id_b, roundedSim) with
    * id_a < id_b, at most k rows. */
  def topPairs(xsIn: Array[(Long, Array[Double])],
      ysIn: Array[(Long, Array[Double])], k: Int, dp: Int): Iterator[(Long, Long, Double)] = {
    val xs = xsIn.sortBy(_._1)
    val ys = if (ysIn == null) xs else ysIn.sortBy(_._1)
    val xn = xs.map(t => norm(t._2))
    val yn = if (ysIn == null) xn else ys.map(t => norm(t._2))
    // candidates within half-an-ulp-of-dp below the current worst can
    // never displace it after rounding — skip their BigDecimal round
    val eps = 0.5 * math.pow(10.0, -dp) + 1e-12
    val pq = new scala.collection.mutable.PriorityQueue[Entry]()(worstFirst.reverse)
    var i = 0
    while (i < xs.length) {
      val (xid, xv) = xs(i)
      var j = if (ysIn == null) i + 1 else 0
      while (j < ys.length) {
        val (yid, yv) = ys(j)
        // a zero-norm vector gives raw = 0/0 = NaN, which sorts FIRST under
        // desc (Double.compare) — degenerate pairs would crowd out real
        // ones. Cosine is undefined for the zero vector; skip the pair.
        if (xid != yid && xn(i) > 0.0 && yn(j) > 0.0) {
          val raw = dot(xv, yv) / (xn(i) * yn(j))
          if (pq.size < k || raw >= pq.head.sim - eps) {
            val ida = math.min(xid, yid); val idb = math.max(xid, yid)
            val e = Entry(roundHalfUp(raw, dp), ida, idb)
            if (pq.size < k) pq.enqueue(e)
            else if (worstFirst.compare(e, pq.head) > 0) { pq.dequeue(); pq.enqueue(e) }
          }
        }
        j += 1
      }
      i += 1
    }
    pq.iterator.map(e => (e.idA, e.idB, e.sim)).toArray.iterator
  }

  /** Within-group pairs for [[Similarity.topPairsExactCollapsed]]: the
    * first min(k, C(m,2)) member pairs of one identical-vector group in
    * (id_a, id_b) order (ms must arrive sorted ascending), all at the
    * group's self-cosine — computed with the SAME dot/norm/rounding
    * arithmetic [[topPairs]] uses, so a twin pair scores bit-identically
    * to what the uncollapsed kernel would have emitted for it. Zero-norm
    * and NaN vectors yield nothing (both are skipped by [[topPairs]]
    * too: cosine is undefined for them). */
  def withinPairs(ms: Array[Long], v: Array[Double], k: Int,
      dp: Int): Iterator[(Long, Long, Double)] = {
    val nv = norm(v)
    if (!(nv > 0.0)) Iterator.empty
    else {
      val sim = roundHalfUp(dot(v, v) / (nv * nv), dp)
      var emitted = 0
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      var i = 0
      while (i < ms.length - 1 && emitted < k) {
        var j = i + 1
        while (j < ms.length && emitted < k) {
          out += ((ms(i), ms(j), sim)); emitted += 1; j += 1
        }
        i += 1
      }
      out.iterator
    }
  }

  /** The [[graft.expressions.VecDotD]] loop: ascending index order over
    * min(|a|, |b|) elements. */
  private[operators] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
}
