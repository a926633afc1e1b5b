package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorFunctions => VF}

/** Driver queries over the embedding table: exact kNN, the IVF, HNSW
  * and HNSW+PQ index searches (exhaustively configured so each must
  * reproduce a brute-force oracle), and embedding-space audits. Each
  * body sits beside the DuckDB SQL that [[Registry]] checks it against. */
object AnnQueries {

  // ---- kNN through the exact kernel and the persisted indexes --------

  /** Brute-force top-5 cosine neighbors for queries vec_id < 10: the
    * oracle of q18 (exact kNN) and of the exhaustively configured index
    * searches q56 (IVF) and q124 (HNSW). */
  val knnSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** The kNN query side, vectors vec_id ≤ 9 as (query_id, qv). It goes
    * through the file-skipping read: on a multi-file layout only files
    * whose footer range covers [0, 9] open. */
  private def knnQueries(spark: SparkSession, dir: String): DataFrame =
    Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 9L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))

  /** Index directories, built once per JVM per (kind, data dir): the
    * index queries time search, and build throughput is measured by the
    * bench ann and hnsw phases. Bench-harness state, not library API:
    * the temp indexes are deleted when the JVM exits rather than
    * outliving it. */
  private val indexDirs = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  locally {
    sys.addShutdownHook {
      indexDirs.values().forEach { d =>
        try org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(d))
        catch { case _: Exception => () }
      }
    }
  }

  /** The `kind` index over `dir`'s embeddings, built by `build(vectors,
    * outDir)` on first use. */
  private def builtIndex(kind: String, spark: SparkSession, dir: String)(
      build: (DataFrame, String) => Unit): String =
    indexDirs.computeIfAbsent((kind, dir), _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-$kind-").toString
      build(Tables.embeddings(spark, dir), tmp)
      tmp
    })

  /** V3 exact top-k cosine neighbors for a query set (embedding.py:408-472).
    * Brute-force contract; the LSH/IVF variants are the scale path. */
  def knnExact(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("neighbor_id"), VF.vecAsDouble(col("embedding")).as("nv"))
    graft.operators.Similarity.topKExact(knnQueries(spark, dir), c, 5)
      .orderBy("query_id", "rnk")
  }

  /** V4/V5 end-to-end through the persisted IVF index, exhaustively
    * probed: with nProbe = nCells the partition-pruned search visits
    * every cell, so its top-k must reproduce the q18 brute-force oracle
    * bit-for-bit — an oracle gate on the whole build→persist→search
    * path, not just a recall bound (faiss_builder.py:181-284;
    * embedding.py:408-472). */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val idx = builtIndex("ivf", spark, dir) { (emb, out) =>
      graft.index.VectorIndex.build(emb, "vec_id", "embedding", nCells = 16, out)
    }
    graft.index.VectorIndex.search(spark, idx, knnQueries(spark, dir), k = 5, nProbe = 16)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** X131 end-to-end through the persisted per-cell HNSW graph index,
    * exhaustively probed (nProbe = nCells, efSearch ≥ cell size): the
    * backbone-connected layer-0 graph makes the beam search visit every
    * node, so the result must reproduce the q18 brute-force oracle
    * bit-for-bit — the same oracle gate q56 puts on the IVF path, here
    * gating the whole graph build→persist→load→search chain
    * (faiss_builder.py:60-147's HNSW artifact, re-expressed as a
    * parquet graph table + distributed beam search). The serving-shaped
    * configuration's recall/throughput trade is measured in
    * HnswIndexSpec and the bench hnsw phase. */
  def knnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val idx = builtIndex("hnsw", spark, dir) { (emb, out) =>
      graft.index.HnswIndex.build(emb, "vec_id", "embedding", nCells = 16, out,
        m = 8, efConstruction = 64)
    }
    graft.index.HnswIndex.search(spark, idx, knnQueries(spark, dir), k = 5,
        efSearch = Int.MaxValue, nProbe = 16)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** X131's PQ serving composition end-to-end through a persisted
    * PQ-coded graph index (FAISS's HNSW+PQ+refine), exhaustively
    * configured: efSearch ≥ cell size makes the asymmetric-distance
    * beam visit every node, window ≥ cell size makes the exact in-cell
    * rerank an exhaustive scan of the resident int8 store — so the
    * result must reproduce the INT8-exhaustive brute force, which the
    * oracle replays by quantize/dequantizing the corpus side in SQL
    * (the q63-proven `round(x·scale)/scale` replay). Gates the whole
    * codebook-train → residual-encode → code-beam → exact-rerank chain
    * cross-engine, not just against the Spark-side oracle in
    * HnswPqSpec (faiss_builder.py:60-147's HNSW artifact composed with
    * embedding.py's PQ compression, re-expressed Spark-first). */
  def knnHnswPq(spark: SparkSession, dir: String): DataFrame = {
    val idx = builtIndex("hnswpq", spark, dir) { (emb, out) =>
      graft.index.HnswIndex.build(emb, "vec_id", "embedding", nCells = 16, out,
        m = 8, efConstruction = 64, pqM = 8)
    }
    graft.index.HnswIndex.searchPq(spark, idx, knnQueries(spark, dir), k = 5,
        efSearch = Int.MaxValue, nProbe = 16, window = Int.MaxValue,
        residentRerank = true)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  // the PQ-coded graph's exhaustive config (ef ≥ cell, window ≥ cell,
  // nProbe = nCells) reduces to an exhaustive EXACT rerank against the
  // int8 store, so the oracle is the q18 brute force with the corpus
  // side pushed through the q63-proven int8 replay
  // (round(x·scale)/scale, scale = 127/max|x|); queries stay float
  val knnHnswPqSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), m AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
      |), rc AS (
      |  SELECT vec_id,
      |    CASE WHEN maxabs > 0
      |      THEN list_transform(v, x -> round(x * (127.0 / maxabs)) / (127.0 / maxabs))
      |      ELSE v END AS rv
      |  FROM m
      |), p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(q.v, c.rv)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.rv, c.rv))), 6) AS sim
      |  FROM e q JOIN rc c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  // ---- embedding-space audits ------------------------------------------

  /** V16 embedding sanity: dim consistency + norm stats per label. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vec_dot
    Tables.embeddings(spark, dir)
      .withColumn("v", VF.vecAsDouble(col("embedding")))
      .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(size(col("embedding"))).as("n_dims"),
        min(size(col("embedding"))).cast("long").as("dim"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        (sum(col("nrm").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_norm"))
      .orderBy("label")
  }

  val embeddingStatsSql: String =
    """WITH e AS (
      |  SELECT label, embedding,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)
      |SELECT label, count(*) AS n,
      |  count(DISTINCT len(embedding)) AS n_dims,
      |  CAST(min(len(embedding)) AS BIGINT) AS dim,
      |  round(min(nrm), 6) AS min_norm,
      |  round(max(nrm), 6) AS max_norm,
      |  CAST(sum(CAST(nrm AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_norm
      |FROM e GROUP BY label ORDER BY label""".stripMargin

  /** V10 length-bias: corr(document length, embedding norm) — documents
    * and embeddings share the id space (doc_id = vec_id). */
  def lengthBias(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vec_dot
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v", VF.vecAsDouble(col("embedding")))
      .select(col("vec_id"), sqrt(vec_dot(col("v"), col("v"))).as("nrm"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"), col("lang"))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(corr(col("n_chars").cast("double"), col("nrm")), 6).as("len_norm_corr"))
      .orderBy("lang")
  }

  val lengthBiasSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings
      |)
      |SELECT lang, count(*) AS n,
      |  round(corr(CAST(n_chars AS DOUBLE), nrm), 6) AS len_norm_corr
      |FROM documents d JOIN e ON d.doc_id = e.vec_id
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** V8/V9 label leakage: % of each query's top-5 cosine neighbors that
    * share the query's label, averaged per label (embedding.py:699-910).
    * Fully SQL-expressible here because embeddings are data, not model
    * output. */
  def labelLeakage(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"), col("label"))
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 99L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("qlabel"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("label").as("nlabel"))
    val knn = graft.operators.Similarity.topKExact(
      q.select("query_id", "qv"), c.select("neighbor_id", "nv"), 5)
    knn
      .join(q.select("query_id", "qlabel"), "query_id")
      .join(c.select("neighbor_id", "nlabel"), "neighbor_id")
      .groupBy(col("qlabel").cast("long").as("label"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        round(lit(100.0) * sum(when(col("qlabel") === col("nlabel"), 1).otherwise(0))
          / count(lit(1)), 4).as("same_label_pct"))
      .orderBy("label")
  }

  val labelLeakageSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |), p AS (
      |  SELECT q.vec_id AS query_id, q.label AS qlabel,
      |    c.vec_id AS neighbor_id, c.label AS nlabel,
      |    round(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      |  FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id <> q.vec_id
      |), r AS (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
      |  FROM p
      |)
      |SELECT CAST(qlabel AS BIGINT) AS label,
      |  count(DISTINCT query_id) AS n_queries,
      |  round(100.0 * sum(CASE WHEN qlabel = nlabel THEN 1 ELSE 0 END) / count(*), 4) AS same_label_pct
      |FROM r WHERE rnk <= 5 GROUP BY qlabel ORDER BY label""".stripMargin

  /** X42 int8 quantization error audit: per-label RMS reconstruction
    * error and scale of the symmetric int8 scheme ([[VF.quantizeInt8]]).
    * Map-only over the embedding store; the residual's sum-of-squares is
    * a dot product with itself so the oracle sums in the same order. */
  def quantizationError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), VF.vecAsDouble(col("embedding")).as("v"))
      .withColumn("scale", VF.int8Scale(col("v")))
      .filter(col("scale").isNotNull)
    val dq = VF.dequantizeInt8(VF.quantizeInt8(col("v"), col("scale")), col("scale"))
    val resid = zip_with(col("v"), dq, (a, b) => a - b)
    val scored = e
      .withColumn("rmse", round(sqrt(VF.dot(resid, resid) / size(col("v"))), 6))
      .withColumn("scale_r", round(col("scale"), 6))
    scored.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        (sum(col("rmse").cast("decimal(20,12)")).cast("double") / count(lit(1)))
          .as("avg_rmse"),
        max(col("rmse")).as("max_rmse"),
        (sum(col("scale_r").cast("decimal(20,12)")).cast("double") / count(lit(1)))
          .as("avg_scale"))
      .orderBy("label")
  }

  val quantizationErrorSql: String =
    """WITH e AS (
      |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), m AS (
      |  SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
      |), s AS (
      |  SELECT label, v, 127.0 / maxabs AS scale FROM m WHERE maxabs > 0
      |), r AS (
      |  SELECT label, scale,
      |    list_transform(v, x -> x - round(x * scale) / scale) AS resid,
      |    len(v) AS dim
      |  FROM s
      |), q AS (
      |  SELECT label,
      |    round(sqrt(list_dot_product(resid, resid) / dim), 6) AS rmse,
      |    round(scale, 6) AS scale_r
      |  FROM r
      |)
      |SELECT label, count(*) AS n_vecs,
      |  CAST(sum(CAST(rmse AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_rmse,
      |  max(rmse) AS max_rmse,
      |  CAST(sum(CAST(scale_r AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_scale
      |FROM q GROUP BY label ORDER BY label""".stripMargin

  /** X85 embedding-space decontamination
    * ([[graft.operators.Similarity.decontamByEmbedding]]): vectors
    * vec_id < 20 stand in for the eval benchmark; any corpus vector
    * within cosine 0.35 of one is flagged with its closest eval item. */
  def embedDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"))
    val evalSet = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 19L)
      .select(col("vec_id").as("eval_id"), VF.vecAsDouble(col("embedding")).as("eval_vec"))
    graft.operators.Similarity
      .decontamByEmbedding(emb, evalSet, "vec_id", "v", tau = 0.35)
      .orderBy("vec_id")
  }

  val embedDecontamSql: String =
    """WITH c AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), ev AS (
      |  SELECT vec_id AS eval_id, v AS ev FROM c WHERE vec_id <= 19
      |), p AS (
      |  SELECT c.vec_id, ev.eval_id,
      |    list_dot_product(c.v, ev.ev)
      |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ev.ev, ev.ev))) AS sim
      |  FROM c CROSS JOIN ev
      |), f AS (
      |  SELECT vec_id, eval_id, sim,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
      |  FROM p WHERE sim >= 0.35
      |)
      |SELECT vec_id, eval_id, round(sim, 6) AS sim
      |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin

  /** X98 hard-negative mining over the labeled embedding table
    * ([[graft.operators.Similarity.hardNegatives]]): per query, the
    * top-5 most-similar vectors with a DIFFERENT label. */
  def hardNegativesQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 49L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("qlabel"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"), col("label").as("nlabel"))
    graft.operators.Similarity.hardNegatives(q, c, 5)
      .orderBy("query_id", "rnk")
  }

  // q97: brute-force hard negatives — same shape as the kNN oracle plus
  // the different-label predicate in the pair join
  val hardNegativesSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
      |), p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      |  FROM e q JOIN e c
      |    ON q.vec_id <= 49 AND c.vec_id <> q.vec_id AND c.label <> q.label
      |), r AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin

  /** Embeddings joined to their documents' source, the input of q104
    * and q107. */
  private def withSource(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")

  /** q104/q107's SQL side of [[withSource]]: `j(source, v)`, ending
    * inside `j`. */
  private val sourceVecCtes: String =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), j AS (
      |  SELECT d.source, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id""".stripMargin

  /** Per-position DECIMAL(20,12) sums of `v`: a 64-d source centroid
    * (sum) vector, order-free. */
  private val centroidSums: String = (1 to 64)
    .map(i => s"CAST(sum(CAST(v[$i] AS DECIMAL(20,12))) AS DOUBLE)")
    .mkString(", ")

  /** X106 source-centroid similarity matrix
    * ([[graft.operators.Similarity.groupCentroidSimilarity]]): embeddings
    * joined to their documents' source, pairwise cosine between
    * per-source centroid (sum) vectors. */
  def sourceCentroidSimQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.groupCentroidSimilarity(
      withSource(spark, dir), col("source"), col("embedding"))

  // q104: per-source centroid (SUM) vectors re-derived exactly — each
  // element sums as DECIMAL(20,12) (order-free; cosine is
  // scale-invariant so sum ≡ mean), then the q18 list_dot_product +
  // round(6) cosine precedent over the 64-d centroid lists.
  val sourceCentroidSimSql: String = {
    s"""WITH $sourceVecCtes
      |), c AS (
      |  SELECT source, [$centroidSums] AS c FROM j GROUP BY source
      |)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  round(list_dot_product(a.c, b.c)
      |    / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))), 6) AS cos_sim
      |FROM c a JOIN c b ON a.source < b.source
      |ORDER BY source_a, source_b""".stripMargin
  }

  /** X111 within-source embedding dispersion
    * ([[graft.operators.Similarity.groupDispersion]]): exact mean
    * pairwise squared distance per source without forming pairs —
    * n·Σ‖x‖² − ‖Σx‖² over decimal-exact sums. */
  def sourceDispersionQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.groupDispersion(
      withSource(spark, dir), col("source"), col("embedding"))

  // q107: within-source dispersion re-derived — per-element DECIMAL
  // sums (Σx per position, Σ‖x‖² as the per-row 64-term decimal sum:
  // the identical term set the Spark side's exploded sum accumulates),
  // then the closed-form combine n·Σ‖x‖² − ‖Σx‖² with the q104-style
  // list_dot_product over the centroid-sum doubles, rounded 6.
  val sourceDispersionSql: String = {
    val sqExprs = (1 to 64)
      .map(i => s"CAST(v[$i] * v[$i] AS DECIMAL(20,12))")
      .mkString(" + ")
    s"""WITH $sourceVecCtes
       |), c AS (
       |  SELECT source, count(*) AS n,
       |    [$centroidSums] AS c,
       |    CAST(sum($sqExprs) AS DOUBLE) AS qq
       |  FROM j GROUP BY source HAVING count(*) >= 2
       |)
       |SELECT source, n AS n_vecs,
       |  round((n * qq - list_dot_product(c, c)) / ((n * (n - 1)) / 2.0), 6) AS mean_sq_dist,
       |  round(sqrt(qq / n), 6) AS rms_norm
       |FROM c ORDER BY source""".stripMargin
  }

}
