package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.index.{HnswIndex, IndexArtifact, VectorIndex}

/** N2 streaming wiring: maintain the IVF index from a STREAM of vectors
  * (reference: indexing/incremental.py:200-276, which re-runs a batch
  * scan + anti-join by hand).
  *
  * Each micro-batch applies the batch maintenance rule
  * ([[VectorIndex.update]]): anti-join out already-indexed ids, append
  * assignments when the new fraction is small, full rebuild past the 30%
  * rule. foreachBatch + checkpointing gives exactly-once file-level
  * progress, and the deterministic artifact ids make a replayed batch a
  * no-op (N3) — the streaming layer adds bookkeeping-free incremental
  * discovery, not new index semantics.
  */
object StreamingIndex {

  /** Drain new parquet vector files under `vectorsDir` into the index at
    * `indexDir` (one [[VectorIndex.update]] per micro-batch), then
    * return. `schema` must cover (idCol, vecCol). First batch against an
    * empty `indexDir` builds the index. Returns the actions taken, in
    * batch order ("build" | "append" | "rebuild" | "noop"). */
  def maintainAvailableNow(spark: SparkSession, vectorsDir: String, schema: StructType,
      idCol: String, vecCol: String, nCells: Int, indexDir: String,
      checkpointDir: String): Seq[String] =
    drain(spark, vectorsDir, schema, checkpointDir)(
      updateOrBuild(_, idCol, vecCol, nCells, indexDir))

  /** Run `step` on each micro-batch of the parquet files under
    * `vectorsDir` not yet in `checkpointDir`, then return its results. */
  private def drain(spark: SparkSession, vectorsDir: String, schema: StructType,
      checkpointDir: String)(step: DataFrame => String): Seq[String] = {
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    spark.readStream.schema(schema).parquet(vectorsDir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => actions += step(batch); () }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    actions.toSeq
  }

  /** The per-batch maintenance step: build when no index is published
    * yet, otherwise the 30%-rule update. An index a crashed build or
    * update left unpublished is rebuilt over the batch and every vector
    * still on disk ([[IndexArtifact.rebuild]]). */
  def updateOrBuild(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, indexDir: String): String =
    if (IndexArtifact.generation(vectors.sparkSession, indexDir).isEmpty) {
      IndexArtifact.rebuild(vectors, idCol, vecCol, indexDir,
          VectorIndex.Paths(indexDir).assigned)(
        VectorIndex.build(_, idCol, vecCol, nCells, indexDir))
      "build"
    } else VectorIndex.update(vectors, idCol, vecCol, nCells, indexDir)

  /** Same drain loop over the X131 graph index: each micro-batch applies
    * [[HnswIndex.update]]'s touched-cells-only maintenance
    * (a graph cell rebuilds as a structure; untouched cell partitions
    * are inherited file-identical), so a stream of vector files keeps a
    * servable HNSW artifact current at O(touched cells) per batch. */
  def maintainGraphAvailableNow(spark: SparkSession, vectorsDir: String,
      schema: StructType, idCol: String, vecCol: String, nCells: Int,
      indexDir: String, checkpointDir: String, m: Int = 8,
      efConstruction: Int = 64): Seq[String] =
    drain(spark, vectorsDir, schema, checkpointDir)(
      updateOrBuildGraph(_, idCol, vecCol, nCells, indexDir, m, efConstruction))

  /** Per-batch graph maintenance: a batch against an unpublished index
    * builds as [[updateOrBuild]] does, later batches go through the
    * 30%-rule touched-cells update. */
  def updateOrBuildGraph(vectors: DataFrame, idCol: String, vecCol: String,
      nCells: Int, indexDir: String, m: Int = 8,
      efConstruction: Int = 64): String =
    if (IndexArtifact.generation(vectors.sparkSession, indexDir).isEmpty) {
      IndexArtifact.rebuild(vectors, idCol, vecCol, indexDir, HnswIndex.Paths(indexDir).graph)(
        HnswIndex.build(_, idCol, vecCol, nCells, indexDir, m, efConstruction))
      "build"
    } else HnswIndex.update(vectors, idCol, vecCol, indexDir)
}
