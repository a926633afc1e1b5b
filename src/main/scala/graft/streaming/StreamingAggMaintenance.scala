package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ingest.Layout
import graft.operators.IncrementalAgg

/** Streaming maintenance of a materialized aggregate: each micro-batch
  * is folded into a keyed mergeable-state table ([[IncrementalAgg]])
  * kept as a [[Layout]] layer — the streaming materialized view. Batch
  * work is ∝ micro-batch size + current state keys; the raw stream is
  * never re-read. Batch `id` writes version `id + 1` beside the current
  * one, so a crash mid-write leaves the previous state committed (the
  * checkpoint re-drives the failed batch on restart).
  */
object StreamingAggMaintenance {

  /** `stateDir` as a Layout (base, layer): its versions are `stateDir/vN`. */
  private def layerOf(stateDir: String): (String, String) = {
    val p = new Path(stateDir)
    (p.getParent.toString, p.getName)
  }

  /** The newest committed state version, and the state it holds. */
  private def committed(spark: SparkSession, stateDir: String): Option[(Int, DataFrame)] = {
    val (base, layer) = layerOf(stateDir)
    Layout.committedVersions(spark, base, layer).lastOption
      .map(v => v -> Layout.loadVersion(spark, base, layer, v))
  }

  /** Read the current state table if one is committed. */
  def currentState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    committed(spark, stateDir).map(_._2)

  /** Start a foreachBatch query maintaining `stateDir` from `stream`.
    * AvailableNow by default (drain-and-stop); pass a processing-time
    * trigger for continuous maintenance.
    *
    * Idempotent under foreachBatch redelivery: a crash between the state
    * commit and the checkpoint commit makes Spark re-drive the same batch
    * id, which would double-count into the state — so batch `id` commits
    * state version `id + 1`, and a batch whose version is already
    * committed is skipped. The state dir is therefore BOUND to its
    * checkpoint: starting over with a fresh checkpoint (batch ids
    * restart at 0) requires a fresh state dir too. */
  def run(stream: DataFrame, stateDir: String, checkpointDir: String,
      keys: Seq[String], specs: Seq[IncrementalAgg.Spec],
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val (base, layer) = layerOf(stateDir)
        val current = committed(spark, stateDir)
        val version = Math.toIntExact(batchId + 1)
        if (version > current.fold(0)(_._1)) {
          // an explicit version overwrites what a crashed attempt left
          // there; the commit marker lands last, then older states go
          Layout.writeVersioned(IncrementalAgg.refresh(current.map(_._2), batch, keys, specs),
            base, layer, Some(version))
          Layout.expireHistory(spark, base, layer)
        }
        ()
      }
      .start()
}
