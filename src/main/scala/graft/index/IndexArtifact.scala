package graft.index

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import graft.core.Json

/** The one commit protocol of an index artifact, shared by the IVF, PQ
  * and HNSW families (reference: faiss_builder.py:181-234 treats the
  * index file plus its sidecars as one artifact).
  *
  * `metadata.json` is the commit point. Every build and update deletes
  * it ([[unpublish]]) before it changes any file, and publishes it last
  * by writing a temp file and renaming it onto the absent name
  * ([[publish]]). An artifact is complete exactly when `metadata.json`
  * exists, so a crash anywhere between component writes (new centroids
  * written, cells not yet) leaves an artifact that search and update
  * refuse rather than one that routes queries into the wrong cells.
  * Its mtime is the artifact's generation, the key of every
  * [[GenerationCache]]; a published `metadata.json` is never rewritten
  * in place, so a generation's bytes never change under a reader. */
private[graft] object IndexArtifact {

  def metadataPath(dir: String): String = s"$dir/metadata.json"

  private def fsOf(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The published generation, or None while the artifact is
    * unpublished. One file-status call. */
  def generation(spark: SparkSession, dir: String): Option[Long] = {
    val path = new Path(metadataPath(dir))
    try Some(fsOf(spark, path).getFileStatus(path).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }
  }

  private def incomplete(dir: String): IllegalStateException =
    new IllegalStateException(
      s"index at $dir is incomplete (no ${metadataPath(dir)}) — a writer " +
        "crashed mid-build or mid-update; rebuild from the corpus (a " +
        s"crashed rebuild may have staged it at $dir/rebuild_staging.parquet)")

  /** The published generation; refuses an unpublished artifact. */
  def published(spark: SparkSession, dir: String): Long =
    generation(spark, dir).getOrElse(throw incomplete(dir))

  def unpublish(spark: SparkSession, dir: String): Unit = {
    val path = new Path(metadataPath(dir))
    fsOf(spark, path).delete(path, false)
  }

  def publish(spark: SparkSession, dir: String, metadata: ObjectNode): Unit = {
    val path = new Path(metadataPath(dir))
    val tmp = new Path(metadataPath(dir) + ".tmp")
    val fs = fsOf(spark, path)
    Json.write(fs.create(tmp, true), metadata)
    if (!fs.rename(tmp, path))
      throw new IllegalStateException(s"could not publish $path (rename failed)")
  }

  /** The published metadata object. Bytes that do not parse as one
    * object are a torn file: refused, never read as defaults. */
  def readMetadata(spark: SparkSession, dir: String): ObjectNode = {
    val path = new Path(metadataPath(dir))
    val in =
      try fsOf(spark, path).open(path)
      catch { case _: java.io.FileNotFoundException => throw incomplete(dir) }
    def truncated(why: String) = new IllegalStateException(
      s"metadata at $path is truncated ($why) — a writer crashed mid-write; rebuild the index")
    try Json.read(in) match {
      case o: ObjectNode => o
      case other => throw truncated(s"not an object: ${other.getNodeType}")
    } catch { case e: JsonProcessingException => throw truncated(e.getOriginalMessage) }
  }
}

/** Values loaded from one generation of a published artifact (a
  * centroid table, a PQ model, a persisted graph), keyed by (path,
  * generation). Loading a generation evicts the other generations of
  * the same path, so a serving loop that rebuilds in place holds one
  * copy, and `release` runs on each evicted value; it must be
  * idempotent (HNSW passes `unpersist`).
  *
  * Entries are slots: a slot claims its key via `putIfAbsent` before
  * anything loads, so two racing first loaders run the load once and no
  * persisted loser outlives its entry. */
private[graft] final class GenerationCache[V](release: V => Unit = (_: V) => ()) {

  private final class Slot(load: () => V) {
    @volatile private var built = false
    @volatile private var released = false
    lazy val value: V = {
      val v = load(); built = true
      // an eviction that raced the load saw built = false and skipped
      // the release — honor it here
      if (released) release(v)
      v
    }
    def drop(): Unit = { released = true; if (built) release(value) }
  }

  private val slots = new TrieMap[(String, Long), Slot]

  def apply(path: String, gen: Long)(load: => V): V = {
    val slot = new Slot(() => load)
    slots.putIfAbsent((path, gen), slot).getOrElse {
      evict(path, keep = Some(gen))
      slot
    }.value
  }

  /** Drop every resident generation of `path` except `keep`. */
  def evict(path: String, keep: Option[Long] = None): Unit =
    slots.keys.filter(k => k._1 == path && !keep.contains(k._2))
      .foreach(k => slots.remove(k).foreach(_.drop()))

  def newest(path: String): Option[Long] =
    slots.keys.filter(_._1 == path).map(_._2).maxOption
}
