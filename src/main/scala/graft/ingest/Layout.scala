package graft.ingest

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.Json

/** Versioned `{layer}/{vN}` lakehouse layout (S9) and raw-file archival
  * (S16). Reference: src/lakehouse/structure.py:20-40,
  * ingestion/writer.py:220-310, ingestion/pipeline.py:284-299.
  *
  * All paths go through the Hadoop FileSystem API, so the layout works
  * unchanged on local disk, HDFS, or an object store — version discovery
  * is one directory listing of the layer, never a recursive walk.
  *
  * Atomic publication (the Delta/Iceberg-commit idea, file-system-native):
  * a version is only *visible* once its `_graft_commit.json` marker
  * exists, and the marker is written last, as one atomic file create.
  * A writer that dies mid-write leaves an uncommitted `vN` readers never
  * resolve; an in-place rewrite un-publishes the version for its
  * duration (readers fall back to the previous committed one). Markers
  * double as the rollback lever: [[rollbackTo]] deletes markers, not
  * data, and [[vacuum]] reclaims whatever is unpublished.
  */
object Layout {

  /** Marker file that publishes a version (written last; creation is the
    * commit point). Carries the row count the version holds, so
    * consumers can sanity-check completeness without a data scan, and
    * the schema the version reads back under (partition columns last),
    * so loads need no inference job. */
  val CommitMarker = "_graft_commit.json"

  /** Standard layer directories (structure.py:20-30). */
  val Layers: Seq[String] = Seq(
    "raw", "normalized", "spans", "beats", "sections",
    "embeddings", "ann_index", "catalogs")

  def versionedDir(base: String, layer: String, version: Int): String =
    s"$base/$layer/v$version"

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Existing version numbers of a layer, ascending (empty if none). */
  def versions(spark: SparkSession, base: String, layer: String): Seq[Int] = {
    val dir = new Path(s"$base/$layer")
    val f = fs(spark, base)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .sorted
  }

  def latestVersion(spark: SparkSession, base: String, layer: String): Option[Int] =
    versions(spark, base, layer).lastOption

  /** Layers under `base`: directories (searched to `maxDepth`) holding
    * at least one `vN` version subdirectory — the lake's table listing
    * (S14's catalog surface generalized to any Layout lake). Pure
    * metadata: one directory listing per visited dir, no data reads. */
  def listLayers(spark: SparkSession, base: String, maxDepth: Int = 3): Seq[String] = {
    val f = fs(spark, base)
    val root = new Path(base)
    if (!f.exists(root)) return Nil
    def walk(p: Path, depth: Int): Seq[String] = {
      val kids = f.listStatus(p).toSeq.filter(_.isDirectory)
      val isLayer = kids.exists(_.getPath.getName.matches("v\\d+"))
      val rel = root.toUri.relativize(p.toUri).getPath.stripSuffix("/")
      (if (isLayer && rel.nonEmpty) Seq(rel) else Nil) ++
        (if (depth < maxDepth)
          kids.filterNot(_.getPath.getName.matches("v\\d+"))
            .flatMap(k => walk(k.getPath, depth + 1))
         else Nil)
    }
    walk(root, 0).sorted
  }

  /** The parsed JSON marker `name` of a version dir (None when absent). */
  private[ingest] def readMarker(spark: SparkSession, dir: String,
      name: String): Option[JsonNode] = {
    val p = new Path(dir, name)
    val f = fs(spark, dir)
    if (!f.exists(p)) None else Some(Json.read(f.open(p)))
  }

  /** The row count a committed version's marker attests (None when the
    * marker is absent or predates row-count attestation). */
  def committedRowCount(spark: SparkSession, dir: String): Option[Long] =
    readMarker(spark, dir, CommitMarker).flatMap(m => Option(m.get("row_count")))
      .map(_.asLong)

  /** The schema a committed version's marker records (None when the
    * marker is absent or predates schema recording). */
  private[ingest] def committedSchema(spark: SparkSession, dir: String): Option[StructType] =
    readMarker(spark, dir, CommitMarker).flatMap(m => Option(m.get("schema")))
      .map(s => DataType.fromJson(s.toString).asInstanceOf[StructType])

  /** A reader for the data under version dir `dir`: under the schema
    * its commit marker records, so the load starts no schema-inference
    * job; inferring only for a marker that records none (an older lake,
    * or a version a rollback unpublished). */
  private[ingest] def reader(spark: SparkSession, dir: String): DataFrameReader =
    committedSchema(spark, dir).fold(spark.read)(spark.read.schema(_))

  /** `df` with a fresh row-count [[Observation]] attached, and the count
    * it saw once one action over the returned frame has run — a count
    * taken on the write itself, no counting job. Place it where that
    * action evaluates each row once (above, never below, a range
    * exchange: the partitioner's sampling job re-runs the plan beneath
    * it). Adaptive execution can drop an empty subtree whole, and its
    * observation with it; the count then falls back to the footers of
    * `dirs`, the files holding the same rows. */
  private[ingest] def observeRows(df: DataFrame, dirs: Seq[String]): (DataFrame, () => Long) = {
    val rows = Observation()
    (df.observe(rows, count(lit(1)).as("rows")),
      () => rows.get.get("rows").fold(parquetRows(df.sparkSession, dirs))(_.asInstanceOf[Long]))
  }

  /** Versions whose commit marker exists — the only ones readers see. */
  def committedVersions(spark: SparkSession, base: String, layer: String): Seq[Int] =
    versions(spark, base, layer)
      .filter(v => isCommitted(spark, versionedDir(base, layer, v)))

  def isCommitted(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, CommitMarker))

  /** Publish a version written outside [[writeVersioned]]/[[Merge]]:
    * its footer-summed row count (metadata reads, no data pages; one
    * driver-side file open per parquet file) into the marker, created
    * atomically and exactly once (`overwrite = false` — a concurrent
    * committer loses with a clear FileAlreadyExists instead of silently
    * double-publishing). `extraDirs` lets a merged version attest its
    * EFFECTIVE row count — inherited partition dirs count too. The
    * writers in this package attest the count their write job observed
    * instead, and walk footers only without one. */
  def commit(spark: SparkSession, dir: String, extraDirs: Seq[String] = Nil): Long =
    commitAttested(spark, dir, parquetRows(spark, dir +: extraDirs))

  /** Footer-summed row count across `dirs` (metadata reads, no data
    * pages). An unreadable footer FAILS the caller, never understates. */
  private[ingest] def parquetRows(spark: SparkSession, dirs: Seq[String]): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    var rows = 0L
    dirs.foreach { d =>
      val f = fs(spark, d)
      val it = f.listFiles(new Path(d), true)
      while (it.hasNext) {
        val st = it.next()
        val path = st.getPath.toString
        if (path.endsWith(".parquet"))
          // an unreadable footer must FAIL the commit, not publish an
          // understated row_count — the marker exists to attest completeness
          rows += graft.snapshot.Snapshot.parquetRowCount(conf, path).getOrElse(
            throw new IllegalStateException(
              s"refusing to commit $d: unreadable parquet footer in $path"))
      }
    }
    rows
  }

  /** Publish with an already-derived effective row count and the schema
    * the version reads back under. [[writeVersioned]] passes the count
    * its write job observed; [[Merge]] derives a merged or checkpointed
    * version's count from the PREVIOUS version's attested marker plus
    * the rows its own write observed, so commit cost never re-reads a
    * footer (walking them grew O(corpus) per batch on an incremental
    * workload). */
  private[ingest] def commitAttested(spark: SparkSession, dir: String, rows: Long,
      schema: Option[StructType] = None): Long = {
    val marker = Json.obj().put("row_count", rows)
    schema.foreach(s => marker.set[JsonNode]("schema", Json.parse(s.json)))
    Json.write(fs(spark, dir).create(new Path(dir, CommitMarker), false), marker)
    rows
  }

  /** Write a layer at an explicit version, or at latest+1 when `version`
    * is None (the writer.py `create_versioned_directory` + write flow;
    * new versions never clobber old ones — that's the point of vN).
    * The version is invisible to [[loadLatest]]/[[loadVersion]] until the
    * data write fully succeeds and the commit marker lands; an in-place
    * rewrite (explicit `version`) drops the marker first, so readers fall
    * back to the previous committed version while it runs. The marker
    * attests the row count the write job itself observed (no footer
    * walk; a failed write never reaches the commit) and records the
    * schema as it reads back (partition columns last). */
  def writeVersioned(df: DataFrame, base: String, layer: String,
      version: Option[Int] = None, partitionCols: Seq[String] = Nil): String = {
    val spark = df.sparkSession
    val v = version.getOrElse(latestVersion(spark, base, layer).getOrElse(0) + 1)
    val dir = versionedDir(base, layer, v)
    val (observed, rows) = observeRows(df, Seq(dir))
    val w = observed.write.mode(if (version.isDefined) "overwrite" else "errorifexists")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(dir)
    val data = df.schema.filterNot(f => partitionCols.contains(f.name))
    commitAttested(spark, dir, rows(),
      Some(StructType(data ++ partitionCols.map(df.schema(_)))))
    dir
  }

  /** Read the newest *committed* version of a layer (S14-style
    * load-latest). Half-written versions are named in the error rather
    * than silently read. */
  def loadLatest(spark: SparkSession, base: String, layer: String): DataFrame = {
    val committed = committedVersions(spark, base, layer)
    val v = committed.lastOption.getOrElse {
      val stray = versions(spark, base, layer)
      throw new IllegalArgumentException(
        if (stray.isEmpty) s"no versions of $layer under $base"
        else s"no committed versions of $layer under $base " +
          s"(uncommitted: ${stray.map("v" + _).mkString(", ")} — " +
          "in-flight, crashed, or rolled back; vacuum() reclaims them)")
    }
    Merge.readResolved(spark, base, layer, v)
  }

  /** Time travel: read one specific committed version (merge-aware — a
    * [[Merge]]-published version resolves its inherited partitions). */
  def loadVersion(spark: SparkSession, base: String, layer: String, version: Int): DataFrame = {
    val dir = versionedDir(base, layer, version)
    require(isCommitted(spark, dir),
      s"v$version of $layer is not committed (existing: " +
        s"${committedVersions(spark, base, layer).map("v" + _).mkString(", ")})")
    Merge.readResolved(spark, base, layer, version)
  }

  /** Time travel by TIMESTAMP: the newest version committed at or before
    * `epochMs` (commit-marker mtime is the commit instant — the marker is
    * created exactly once, so its mtime never drifts). Errors name the
    * earliest available commit when `epochMs` predates everything. */
  def loadAsOf(spark: SparkSession, base: String, layer: String, epochMs: Long): DataFrame = {
    val f = fs(spark, base)
    val stamped = committedVersions(spark, base, layer).map { v =>
      v -> f.getFileStatus(new Path(versionedDir(base, layer, v), CommitMarker))
        .getModificationTime
    }
    val eligible = stamped.filter(_._2 <= epochMs)
    val v = eligible.lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"no version of $layer committed at or before $epochMs" +
          stamped.headOption.map(s => s" (earliest: v${s._1} at ${s._2})").getOrElse("")))
    loadVersion(spark, base, layer, v)
  }

  /** Roll back by un-publishing: delete the commit markers of every
    * version above `keep` — data stays on disk (re-`commit` restores a
    * version; [[vacuum]] reclaims it). Returns the versions unpublished. */
  def rollbackTo(spark: SparkSession, base: String, layer: String, keep: Int): Seq[Int] = {
    require(committedVersions(spark, base, layer).contains(keep),
      s"cannot roll back to v$keep of $layer: not a committed version")
    val f = fs(spark, base)
    committedVersions(spark, base, layer).filter(_ > keep).map { v =>
      f.delete(new Path(versionedDir(base, layer, v), CommitMarker), false)
      v
    }
  }

  /** Compact the latest committed version's small files into
    * ~`targetBytes` outputs, published as a NEW committed version — the
    * Delta OPTIMIZE idea expressed through the marker protocol, so a
    * failed compaction leaves an invisible half-written vN and readers
    * stay on the uncompacted data. Streaming appends and per-key
    * partitioned writes both accrete small files; at 100 TB the
    * listing/open overhead they add to every scan is the dominant read
    * cost, and compaction is the standing maintenance job that pays it
    * down. File count is derived from current committed bytes (one
    * listing, no data scan); rows are range-partitioned on `sortCol`
    * when given — contiguous key ranges per file make parquet row-group
    * min/max stats selective — else round-robin into even sizes. */
  def compact(spark: SparkSession, base: String, layer: String,
      targetBytes: Long = 128L << 20, sortCol: Option[String] = None,
      partitionCols: Seq[String] = Nil, zOrderCols: Seq[String] = Nil): String = {
    val committed = committedVersions(spark, base, layer)
    val v = committed.lastOption.getOrElse(
      throw new IllegalArgumentException(s"no committed versions of $layer under $base"))
    val dir = versionedDir(base, layer, v)
    val f = fs(spark, dir)
    var bytes = 0L
    // a merged version's bytes live across its chain — size the file
    // count from the EFFECTIVE data, not just the local directory
    val sizeRoots =
      if (Merge.mergeInfo(spark, dir).isEmpty &&
        Merge.manifestInfo(spark, dir).isEmpty) Seq(dir)
      else Merge.effectiveDirs(spark, base, layer, v).values.toSeq
    sizeRoots.foreach { d =>
      val it = f.listFiles(new Path(d), true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) bytes += st.getLen
      }
    }
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // merge-aware: a compacted version materializes inherited partitions,
    // flattening the merge chain back to a self-contained directory
    val df = Merge.readResolved(spark, base, layer, v)
    import org.apache.spark.sql.functions.col
    // A hive-partitioned layer must compact *within* partitions — a flat
    // repartition(n) + partitionBy would shard every partition across all
    // n tasks and write n small files per partition again. Range-pack on
    // (partitionCols, sortCol) instead of hashing the partition columns:
    // ranges keep each task inside few partition values yet still split a
    // HOT partition across multiple ~targetBytes tasks/files, where a
    // hash repartition would funnel a 40%-of-the-layer key into one task
    // and one giant file.
    val packed =
      if (zOrderCols.nonEmpty) {
        // OPTIMIZE ... ZORDER BY: range-pack on (partitionCols, zValue) so
        // clustering happens WITHIN hive partitions, and sort within each
        // task so row groups carry tight min/max on every z column
        df.withColumn("_z", ZOrder.zValue(df, zOrderCols))
          .repartitionByRange(nFiles, (partitionCols :+ "_z").map(col): _*)
          .sortWithinPartitions((partitionCols :+ "_z").map(col): _*)
          .drop("_z")
      } else if (partitionCols.nonEmpty)
        df.repartitionByRange(nFiles, (partitionCols ++ sortCol).map(col): _*)
      else sortCol match {
        case Some(c) => df.repartitionByRange(nFiles, col(c))
        case None    => df.repartition(nFiles)
      }
    writeVersioned(packed, base, layer, partitionCols = partitionCols)
  }

  /** Delete uncommitted version directories (crashed writers, rollbacks)
    * whose newest file is older than `retentionMs` — an IN-FLIGHT writer's
    * version is also uncommitted, and without the age guard vacuum would
    * delete it out from under the writer (Delta's VACUUM keeps the same
    * guard for the same reason). Returns the directories removed. */
  def vacuum(spark: SparkSession, base: String, layer: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val f = fs(spark, base)
    val cutoff = System.currentTimeMillis() - retentionMs
    def newestMtime(dir: Path): Long = {
      var newest = f.getFileStatus(dir).getModificationTime
      val it = f.listFiles(dir, true)
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }
    // merge chains keep referenced versions alive: a rolled-back base
    // version may be unpublished yet still feed a committed merged child
    val referenced = Merge.protectedVersions(spark, base, layer)
    versions(spark, base, layer)
      .filterNot(v => isCommitted(spark, versionedDir(base, layer, v)))
      .filterNot(referenced)
      .filter(v => newestMtime(new Path(versionedDir(base, layer, v))) < cutoff)
      .map { v =>
        val dir = versionedDir(base, layer, v)
        f.delete(new Path(dir), true)
        dir
      }
  }

  /** S16 raw archival: copy source transcript files into `{base}/raw/`,
    * renamed to `{episodeId}{ext}` (pipeline.py:284-299). Driver-side file
    * copy — raw inputs are per-episode files, not a distributed dataset. */
  def archiveRaw(spark: SparkSession, files: Seq[(String, String)], base: String): Seq[String] = {
    val rawDir = new Path(s"$base/raw")
    val f = fs(spark, base)
    f.mkdirs(rawDir)
    files.map { case (src, episodeId) =>
      val srcPath = new Path(src)
      val name = srcPath.getName
      val ext = name.lastIndexOf('.') match {
        case -1 => ""
        case i  => name.substring(i)
      }
      val dest = new Path(rawDir, s"$episodeId$ext")
      org.apache.hadoop.fs.FileUtil.copy(
        srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration), srcPath,
        f, dest, false, true, spark.sparkContext.hadoopConfiguration)
      dest.toString
    }
  }
}
