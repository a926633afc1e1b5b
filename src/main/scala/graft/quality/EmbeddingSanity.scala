package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{HashFunctions, VectorExprs}
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.Similarity

/** Category-F embedding sanity metrics beyond leakage
  * (reference: src/lakehouse/quality/metrics/embedding.py V10-V15).
  * All sampling is hash-ordered (deterministic on any cluster layout) —
  * the documented deviation from the reference's numpy seeding (SURVEY
  * §7.4). Inputs: segments(id, episode_id, speaker, start_time, end_time,
  * text [, series]) and embeddings(artifact_id, embedding).
  */
object EmbeddingSanity {

  private def joined(segments: DataFrame, embeddings: DataFrame, idCol: String): DataFrame = {
    VectorExprs.register(segments.sparkSession)
    segments.join(
        embeddings.select(col("artifact_id").as(idCol), col("embedding")), idCol)
      .withColumn("v", VF.vecAsDouble(col("embedding")))
      .withColumn("nrm", Similarity.norm(col("v")))
  }

  /** Deterministic sample of n rows by hashed id. */
  private def sampleByHash(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(n)

  /** V11: Pearson correlation between lexical (token-set Jaccard) and
    * embedding (cosine) similarity over `nPairs` deterministic pairs. */
  def lexicalVsEmbedding(segments: DataFrame, embeddings: DataFrame,
      idCol: String, nPairs: Int = 500): DataFrame = {
    val base = joined(segments, embeddings, idCol)
    HashFunctions.register(segments.sparkSession)
    val withSets = base
      .withColumn("tk", TF.tokens(col("text")))
      .withColumn("hsh", array_sort(transform(array_distinct(col("tk")), t => xxhash64(t))))
      .withColumn("sz", size(col("hsh")))
      .select(col(idCol), col("v"), col("nrm"), col("hsh"), col("sz"))
    // row_number over the hash order (not monotonically_increasing_id,
    // which is only consecutive because limit() collapses to one
    // partition today — row_number is deterministic on any layout)
    val a = sampleByHash(withSets, idCol, 2 * nPairs)
      .withColumn("rn",
        row_number().over(Window.orderBy(xxhash64(col(idCol)), col(idCol))).cast("long") - 1)
    // deterministic disjoint pairs: consecutive rows in hash order
    val left = a.filter(col("rn") % 2 === 0)
      .select(col(idCol).as("id_a"), col("v").as("va"), col("nrm").as("na"),
        col("hsh").as("ha"), col("sz").as("sz_a"), (col("rn") / 2).as("pair"))
    val right = a.filter(col("rn") % 2 === 1)
      .select(col(idCol).as("id_b"), col("v").as("vb"), col("nrm").as("nb"),
        col("hsh").as("hb"), col("sz").as("sz_b"), ((col("rn") - 1) / 2).as("pair"))
    left.join(right, "pair")
      .withColumn("jac", HashFunctions.sorted_intersect_count(col("ha"), col("hb")).cast("double")
        / (col("sz_a") + col("sz_b") - HashFunctions.sorted_intersect_count(col("ha"), col("hb"))))
      .withColumn("cos", Similarity.cosine(VectorExprs.vec_dot(col("va"), col("vb")),
        col("na"), col("nb")))
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("jac"), col("cos")), 6).as("lexical_embedding_corr"))
  }

  /** k-NN for a deterministic query sample, annotated with both sides'
    * metadata — the shared substrate for V8/V9/V12/V13/V14. The joined
    * base is cached only for the duration of the call: the (small,
    * sampleSize×k-row) result is materialized eagerly so the cache can
    * be released before returning. */
  def sampledNeighbors(segments: DataFrame, embeddings: DataFrame, idCol: String,
      k: Int, sampleSize: Int, extraCols: Seq[String] = Nil): DataFrame = {
    val base = joined(segments, embeddings, idCol).cache()
    try {
      val metaCols = Seq("episode_id", "speaker", "start_time", "end_time") ++ extraCols
      val queries = sampleByHash(base, idCol, sampleSize)
        .select((col(idCol).as("query_id") +: col("v").as("qv") +:
          metaCols.map(c => col(c).as(s"q_$c"))): _*)
      val corpus = base
        .select((col(idCol).as("neighbor_id") +: col("v").as("nv") +:
          metaCols.map(c => col(c).as(s"n_$c"))): _*)
      Similarity.topKExact(
          queries.select("query_id", "qv"), corpus.select("neighbor_id", "nv"), k)
        .join(queries.drop("qv"), "query_id")
        .join(corpus.drop("nv"), "neighbor_id")
        .localCheckpoint(true)
    } finally base.unpersist()
  }

  /** V12: % of neighbors from a different series (diversity). */
  def crossSeriesPct(neigh: DataFrame): DataFrame =
    neigh.agg((lit(100.0) * sum(when(col("q_series") =!= col("n_series"), 1).otherwise(0))
      / count(lit(1))).as("cross_series_pct"))

  /** V13: % of neighbors temporally adjacent (same episode, within tol). */
  def adjacencyBiasPct(neigh: DataFrame, toleranceS: Double = 5.0): DataFrame =
    neigh.agg((lit(100.0) * sum(when(
        col("q_episode_id") === col("n_episode_id") &&
        abs(col("q_start_time") - col("n_start_time")) <= toleranceS, 1).otherwise(0))
      / count(lit(1))).as("adjacency_bias_pct"))

  /** Leakage, adjacency and length bias of a neighbor frame. */
  final case class NeighborStats(sameSpeakerPct: Double, sameEpisodePct: Double,
      adjacencyBiasPct: Double, lengthBiasCorr: Option[Double])

  /** V8/V9 leakage (% of neighbors sharing the query's speaker /
    * episode), V13 adjacency ([[adjacencyBiasPct]]'s expression) and V10
    * length bias — corr(query segment duration, mean neighbor
    * similarity); a strong correlation means the embedding encodes
    * length, not meaning (FR-27; embedding.py length-bias check) — from
    * ONE aggregation: per query, the neighbor counts and mean
    * similarity; then the corpus sums and the correlation. None for an
    * empty neighbor frame. */
  def neighborStats(neigh: DataFrame, toleranceS: Double = 5.0): Option[NeighborStats] = {
    def share(c: String): Column = (lit(100.0) * sum(col(c)) / sum(col("_n"))).as(c)
    val sameEpisode = col("q_episode_id") === col("n_episode_id")
    val r = neigh
      .groupBy(col("query_id"), (col("q_end_time") - col("q_start_time")).as("dur"))
      .agg(avg(col("sim")).as("mean_sim"), count(lit(1)).as("_n"),
        sum(when(col("q_speaker") === col("n_speaker"), 1).otherwise(0)).as("spk"),
        sum(when(sameEpisode, 1).otherwise(0)).as("ep"),
        sum(when(sameEpisode &&
          abs(col("q_start_time") - col("n_start_time")) <= toleranceS, 1).otherwise(0)).as("adj"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("_n"), share("spk"), share("ep"), share("adj"),
        // corr() spelled out so the zero-variance case (all sampled
        // segments the same length) yields NULL instead of an ANSI
        // divide-by-zero
        covar_samp(col("dur"), col("mean_sim")).as("cv"),
        stddev_samp(col("dur")).as("sd_d"),
        stddev_samp(col("mean_sim")).as("sd_s"))
      .select(col("_n"), col("spk"), col("ep"), col("adj"),
        round(when(col("sd_d") > 0 && col("sd_s") > 0,
          col("cv") / (col("sd_d") * col("sd_s"))), 6))
      .first()
    if (r.getLong(0) == 0) None
    else Some(NeighborStats(r.getDouble(1), r.getDouble(2), r.getDouble(3),
      Option(r.getAs[java.lang.Double](4)).map(_.doubleValue)))
  }

  /** V14: neighbor coherence — per query, the share of its neighbors'
    * top term; corpus-level assessment by thresholds (embedding.py:475-696). */
  def neighborCoherence(neigh: DataFrame, segments: DataFrame, idCol: String): DataFrame = {
    val terms = neigh.select(col("query_id"), col("neighbor_id"))
      .join(segments.select(col(idCol).as("neighbor_id"), col("text")), "neighbor_id")
      .select(col("query_id"), explode(TF.contentTokens(col("text"))).as("term"))
    val counts = terms.groupBy("query_id", "term").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("query_id")
    val top = counts
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("rnk", row_number().over(w.orderBy(col("n").desc, col("term"))))
      .filter(col("rnk") === 1)
      .withColumn("top_term_mass", col("n").cast("double") / col("total"))
    top.agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("top_term_mass")), 6).as("avg_top_term_mass"),
      (lit(100.0) * sum(when(col("top_term_mass") > 0.2, 1).otherwise(0)) / count(lit(1)))
        .as("coherent_pct"))
  }

  /** V15: human-review sample of neighbor lists with leakage flags. */
  def neighborListSample(neigh: DataFrame, n: Int = 30): DataFrame =
    neigh
      .withColumn("same_speaker", col("q_speaker") === col("n_speaker"))
      .withColumn("same_episode", col("q_episode_id") === col("n_episode_id"))
      .orderBy(xxhash64(col("query_id")), col("query_id"), col("rnk"))
      .select("query_id", "neighbor_id", "rnk", "sim", "same_speaker", "same_episode")
      .limit(n * 10)

  /** W4-style similarity outliers: most-isolated / most-central queries by
    * mean neighbor similarity (diagnostics.py:20-156). */
  def similarityOutliers(neigh: DataFrame, k: Int): DataFrame = {
    val byQuery = neigh.groupBy("query_id").agg(round(avg(col("sim")), 6).as("mean_sim"))
    byQuery.orderBy(col("mean_sim").asc, col("query_id")).limit(k)
      .withColumn("kind", lit("isolated"))
      .unionByName(
        byQuery.orderBy(col("mean_sim").desc, col("query_id")).limit(k)
          .withColumn("kind", lit("central")))
  }
}
