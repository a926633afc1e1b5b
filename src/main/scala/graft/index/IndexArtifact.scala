package graft.index

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, get, lit, transform, typedlit, when}

import graft.core.Json
import graft.functions.{VectorFunctions => VF}

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

  /** Where a rebuild or update stages vectors before overwriting them. */
  def stagingPath(dir: String): String = s"$dir/rebuild_staging.parquet"

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
        s"crashed rebuild may have staged it at ${stagingPath(dir)})")

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

  def dropStaged(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(spark, p).delete(p, true)
  }

  /** Stored vectors with `_v` reconstructed: int8 rows dequantize, and a
    * null scale marks the all-zero vector. */
  def restored(df: DataFrame): DataFrame =
    if (!df.columns.contains("_q")) df
    else df.withColumn("_v", when(col("_qs").isNotNull,
      VF.dequantizeInt8(col("_q"), col("_qs")))
      .otherwise(transform(col("_q"), x => lit(0.0))))

  /** Build the unpublished artifact at `dir` over `vectors` and every
    * vector it held before. A writer that crashed after [[unpublish]]
    * left those in `stored` (mid-append or mid-overwrite) and in
    * [[stagingPath]] (staged before `stored` was overwritten). Both, with
    * `vectors`, are appended to `recovery.parquet`, so a crash here only
    * adds duplicates; `build` runs over it deduplicated by id, and the
    * staged copies go once it has published. With none of them on disk
    * (a first build), `build` takes `vectors`. */
  def rebuild(vectors: DataFrame, idCol: String, vecCol: String, dir: String,
      stored: String)(build: DataFrame => Unit): Unit = {
    val spark = vectors.sparkSession
    val recovery = new Path(s"$dir/recovery.parquet")
    val left = Seq(stored, stagingPath(dir)).flatMap { path =>
      // absent, or a directory no write has committed a file to
      try Some(restored(spark.read.parquet(path))) catch { case _: AnalysisException => None }
    }.map(df => if (!df.columns.contains("_v")) df.select(idCol, vecCol)
      else df.select(col("_id").as(idCol), col("_v").as(vecCol)))
    if (left.isEmpty && !fsOf(spark, recovery).exists(recovery)) build(vectors)
    else {
      left.foldLeft(vectors.select(col(idCol), VF.vecAsDouble(col(vecCol)).as(vecCol)))(
        _ unionByName _).write.mode("append").parquet(recovery.toString)
      build(spark.read.parquet(recovery.toString).dropDuplicates(idCol))
      Seq(stagingPath(dir), recovery.toString).foreach(dropStaged(spark, _))
    }
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

  /** [[apply]] for a value bound to a `SparkSession`: a resident value
    * of another session is evicted and loaded again, so no session
    * plans against a relation another session resolved. If a racing
    * session takes the slot back, the load is served uncached. */
  def apply(path: String, gen: Long, spark: SparkSession, sessionOf: V => SparkSession)(
      load: => V): V = {
    val v = apply(path, gen)(load)
    if (sessionOf(v) eq spark) v
    else {
      evict(path)
      val w = apply(path, gen)(load)
      if (sessionOf(w) eq spark) w else load
    }
  }

  /** Drop every resident generation of `path` except `keep`. */
  def evict(path: String, keep: Option[Long] = None): Unit =
    slots.keys.filter(k => k._1 == path && !keep.contains(k._2))
      .foreach(k => slots.remove(k).foreach(_.drop()))

  def newest(path: String): Option[Long] =
    slots.keys.filter(_._1 == path).map(_._2).maxOption
}

/** One generation of a cell-partitioned artifact (IVF and PQ) as a
  * search holds it: the routing centroids sorted by cell id, and the
  * relation over the cell-partitioned vectors. Resolving that relation
  * (`spark.read.parquet`) lists every `cell_id=` directory — a Spark job
  * once there are more than 32 — and infers the parquet schema, another
  * job; held per generation, a search plans against the listed file
  * index instead. Nothing is persisted: the relation is a file listing
  * plus a schema. It belongs to `spark`, so it is cached with
  * [[GenerationCache]]'s session-bound `apply`. */
private[index] final class CellTable(val spark: SparkSession, val cellIds: Seq[Int],
    val cents: Array[Array[Double]], assignedPath: String) {

  /** Resolved on first use, so an update that only routes new vectors
    * never lists the cells. */
  lazy val assigned: DataFrame = spark.read.parquet(assignedPath)

  /** The candidate rows of a probed query batch: `probes` holds one row
    * per (query, probed cell), with the cell's position `_pi` into
    * [[cellIds]] and a `query_id`; `corpus` carries `cell_id` and
    * `neighbor_id`. The probe side is broadcast, so Catalyst's
    * PartitionPruning turns the probed cells into a dynamic partition
    * filter on the `cell_id` scan and unprobed cells are never read.
    * That rule only fires when the probe side holds a filter it counts
    * as selective (`hasSelectivePredicate`); a driver-local batch
    * (`Seq(...).toDF`) has none, so `_pi >= 0`, which every row passes,
    * stands in for one. */
  def candidates(probes: DataFrame, corpus: DataFrame): DataFrame =
    broadcast(probes.filter(col("_pi") >= 0)
        .withColumn("cell_id", get(typedlit(cellIds), col("_pi"))))
      .join(corpus, "cell_id")
      .filter(col("query_id") =!= col("neighbor_id"))
}

private[index] object CellTable {
  def load(spark: SparkSession, centroidsPath: String, assignedPath: String): CellTable = {
    val rows = spark.read.parquet(centroidsPath).select("cell_id", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    new CellTable(spark, rows.map(_._1).toSeq, rows.map(_._2), assignedPath)
  }
}
