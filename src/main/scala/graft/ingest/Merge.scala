package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}

import graft.core.Json

/** Partition-scoped MERGE (upsert/delete) on the versioned layout — the
  * Delta-MERGE idea expressed through [[Layout]]'s marker protocol.
  *
  * A full-rewrite upsert is the thing that does NOT survive 100 TB: a
  * 1%-of-partitions update re-reads and re-writes the other 99%. Here a
  * merged version `vN` materializes ONLY the partitions the update
  * touches; every untouched partition is *inherited* by reference from
  * the base version via a `_graft_merge.json` marker (copy-on-write at
  * partition granularity, like Delta's file-level COW one level up).
  * Readers resolve the inheritance chain; [[Layout.compact]] flattens it
  * (a compacted version is always self-contained), so chains stay short
  * under normal maintenance.
  *
  * Crash safety is unchanged: the merge marker is written before the
  * commit marker, and the version stays invisible until [[Layout.commit]]
  * lands. [[Layout.vacuum]] refuses to reclaim any version a committed
  * chain still references.
  *
  * Constraints (deliberate): one string-typed partition column whose
  * values need no hive escaping — the episode_id/date-stem shape every
  * layer here partitions by. Wider types would need escape-aware dir
  * mapping for no current caller.
  */
object Merge {

  val MergeMarker = "_graft_merge.json"

  /** Marker of a metadata-only CHECKPOINT version (see [[checkpoint]]):
    * carries the fully-resolved partition-dir manifest, so reads cost
    * one marker parse regardless of how deep the merge chain behind it
    * was — the manifest-log checkpoint of a real table format, with no
    * data rewrite at all. */
  val ManifestMarker = "_graft_manifest.json"

  final case class MergeInfo(baseVersion: Int, partitionCol: String,
      affected: Seq[String], evolved: Boolean = false)

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Hive-safe partition values: anything needing escaping is refused at
    * write time so dir-name ↔ value mapping stays the identity. */
  private val SafeValue = "^[A-Za-z0-9._-]+$".r

  // ---- marker IO -----------------------------------------------------

  private[ingest] def writeMarker(spark: SparkSession, dir: String, info: MergeInfo): Unit = {
    val json = Json.obj()
    json.put("base_version", info.baseVersion)
    json.put("partition_col", info.partitionCol)
    if (info.evolved) json.put("evolved", true)
    val arr = json.putArray("affected")
    info.affected.foreach(arr.add)
    Json.write(fs(spark, dir).create(new Path(dir, MergeMarker), false), json)
  }

  private[ingest] def writeManifestMarker(spark: SparkSession, dir: String,
      manifest: Map[String, String], evolved: Boolean = false): Unit = {
    val json = Json.obj()
    if (evolved) json.put("evolved", true)
    val m = json.putObject("manifest")
    manifest.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    Json.write(fs(spark, dir).create(new Path(dir, ManifestMarker), false), json)
  }

  private def manifestEvolved(spark: SparkSession, dir: String): Boolean =
    Layout.readMarker(spark, dir, ManifestMarker)
      .exists(_.path("evolved").asBoolean(false))

  /** Structural parse of the manifest marker: partition-dir name →
    * absolute data path (none ⇒ not a checkpoint version). */
  def manifestInfo(spark: SparkSession, dir: String): Option[Map[String, String]] =
    Layout.readMarker(spark, dir, ManifestMarker).map { node =>
      val m = node.get("manifest")
      m.fieldNames().asScala.map(k => k -> m.get(k).asText()).toMap
    }

  /** Structural parse of the merge marker (none ⇒ a plain, self-contained
    * version). */
  def mergeInfo(spark: SparkSession, dir: String): Option[MergeInfo] =
    Layout.readMarker(spark, dir, MergeMarker).map { node =>
      MergeInfo(
        node.get("base_version").asInt(),
        node.get("partition_col").asText(),
        node.get("affected").elements().asScala.map(_.asText()).toSeq,
        evolved = node.path("evolved").asBoolean(false))
    }

  // ---- resolution ----------------------------------------------------

  private def partitionDirNames(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Nil
    else f.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)
  }

  /** Effective partition-dir map of a version: dir name → absolute path,
    * following the inheritance chain. Own partitions shadow inherited
    * ones; affected-but-absent partitions are deletions. */
  def effectiveDirs(spark: SparkSession, base: String, layer: String,
      version: Int): Map[String, String] = {
    val dir = Layout.versionedDir(base, layer, version)
    val own = partitionDirNames(spark, dir).map(n => n -> s"$dir/$n").toMap
    manifestInfo(spark, dir) match {
      // a checkpoint version IS its resolved map — one marker parse,
      // no recursion, no per-link directory listings
      case Some(manifest) => manifest ++ own
      case None => mergeInfo(spark, dir) match {
        case None => own
        case Some(info) =>
          // chains always point backwards; a corrupt/hand-edited marker
          // must fail loudly, not recurse forever
          require(info.baseVersion < version,
            s"corrupt merge marker: v$version claims base v${info.baseVersion}")
          (effectiveDirs(spark, base, layer, info.baseVersion) -- info.affected) ++ own
      }
    }
  }

  /** Read a version with merge resolution. Plain versions read straight
    * from their directory; merged versions read each contributing
    * version's partitions with that version dir as `basePath` (so the
    * partition column survives) and union by name. Every contributing
    * version dir reads under the schema its own commit marker records
    * ([[Layout.reader]]), so a load starts no inference job and a
    * zero-row version reads as an empty frame of its schema. */
  def readResolved(spark: SparkSession, base: String, layer: String,
      version: Int): DataFrame = {
    val dir = Layout.versionedDir(base, layer, version)
    if (mergeInfo(spark, dir).isEmpty && manifestInfo(spark, dir).isEmpty)
      Layout.reader(spark, dir).parquet(dir)
    else {
      val eff = effectiveDirs(spark, base, layer, version)
      require(eff.nonEmpty, s"merged v$version of $layer resolves to zero partitions")
      val byRoot = eff.values.toSeq.groupBy(p => p.substring(0, p.lastIndexOf('/')))
      // tolerate missing columns ONLY when this chain actually evolved
      // (some link's marker declares it): evolved chains legitimately
      // carry NARROWER older roots, whose rows read as null in the
      // evolved columns — the standard additive-evolution semantics of
      // a real table format. On a never-evolved chain a root-level
      // column mismatch is corruption and must keep failing loudly,
      // not silently null-fill into the next compaction. Each root
      // reads under its OWN marker's schema, never the head's, so a
      // narrower root stays narrower and the mismatch stays visible.
      val tolerant = chainEvolved(spark, base, layer, version)
      byRoot.toSeq.sortBy(_._1).map { case (root, dirs) =>
        Layout.reader(spark, root).option("basePath", root).parquet(dirs.sorted: _*)
      }.reduce(_.unionByName(_, allowMissingColumns = tolerant))
    }
  }

  /** Whether any link of a version's inheritance chain declares an
    * additive schema evolution (merge markers carry `evolved`; a
    * manifest checkpoint of an evolved chain carries it forward). */
  private[ingest] def chainEvolved(spark: SparkSession, base: String,
      layer: String, version: Int): Boolean = {
    val dir = Layout.versionedDir(base, layer, version)
    if (manifestInfo(spark, dir).nonEmpty) manifestEvolved(spark, dir)
    else mergeInfo(spark, dir) match {
      case None => false
      case Some(info) =>
        info.evolved || chainEvolved(spark, base, layer, info.baseVersion)
    }
  }

  /** Depth of the merge-inheritance chain behind a layer's latest
    * committed version (0 = self-contained). Every [[readResolved]] of
    * a merged version unions one root per chain link and lists each
    * link's partition dirs, so reads cost O(depth) — a long-running
    * append workload must compact periodically ([[graft.ingest.Layout.compact]]
    * flattens the chain; the manifest-checkpoint analog of a real table
    * format). */
  def chainDepth(spark: SparkSession, base: String, layer: String): Int = {
    def depth(v: Int): Int = {
      val dir = Layout.versionedDir(base, layer, v)
      // a checkpoint version resolves in one marker parse — depth 0
      if (manifestInfo(spark, dir).nonEmpty) 0
      else mergeInfo(spark, dir) match {
        case None => 0
        case Some(info) => 1 + depth(info.baseVersion)
      }
    }
    Layout.committedVersions(spark, base, layer).lastOption.map(depth).getOrElse(0)
  }

  /** The version number a data path under `{base}/{layer}/vN/…` belongs
    * to (None for paths outside the layer's version tree). */
  private def versionOfPath(base: String, layer: String, path: String): Option[Int] = {
    val prefix = s"$base/$layer/v"
    if (!path.startsWith(prefix)) None
    else path.drop(prefix.length).takeWhile(_.isDigit) match {
      case "" => None
      case digits => Some(digits.toInt)
    }
  }

  /** Versions that committed merge chains still reference — vacuum must
    * not reclaim these even if they were themselves unpublished by a
    * rollback. */
  def protectedVersions(spark: SparkSession, base: String, layer: String): Set[Int] = {
    def chain(v: Int): Set[Int] = {
      val dir = Layout.versionedDir(base, layer, v)
      manifestInfo(spark, dir) match {
        // a checkpoint's manifest references data dirs across many old
        // versions — all of them stay alive
        case Some(manifest) =>
          manifest.values.flatMap(versionOfPath(base, layer, _)).toSet + v
        case None => mergeInfo(spark, dir) match {
          case None => Set(v)
          case Some(info) => chain(info.baseVersion) + v
        }
      }
    }
    Layout.committedVersions(spark, base, layer).flatMap(chain).toSet
  }

  /** Metadata-only chain flatten (r12 verdict #3): publish a NEW
    * committed version whose [[ManifestMarker]] carries the latest
    * version's fully-resolved partition-dir map — every data file stays
    * exactly where it is. Reads of the checkpoint (and of merges built
    * on top of it) resolve in one marker parse instead of walking the
    * chain, so the depth-cadence maintenance of an incremental workload
    * costs O(partitions) metadata, never an O(corpus) rewrite — the
    * role a real table format's manifest-log checkpoint plays.
    * [[Layout.compact]] remains the DATA maintenance job (small-file
    * packing); its cadence is now independent of chain depth. */
  def checkpoint(spark: SparkSession, base: String, layer: String): String = {
    val vCur = Layout.committedVersions(spark, base, layer).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed versions of $layer under $base — nothing to checkpoint"))
    val manifest = effectiveDirs(spark, base, layer, vCur)
    require(manifest.nonEmpty,
      s"v$vCur of $layer is not hive-partitioned — a manifest checkpoint " +
        "tracks partition dirs; compact a non-partitioned layer instead")
    val vNew = Layout.latestVersion(spark, base, layer).getOrElse(0) + 1
    val newDir = Layout.versionedDir(base, layer, vNew)
    fs(spark, newDir).mkdirs(new Path(newDir))
    writeManifestMarker(spark, newDir, manifest,
      evolved = chainEvolved(spark, base, layer, vCur))
    // commit attests the effective row count and schema — the
    // checkpoint references exactly vCur's effective data, so vCur's
    // attested count and recorded schema carry over without re-walking
    // any footer
    val curDir = Layout.versionedDir(base, layer, vCur)
    Layout.commitAttested(spark, newDir,
      Layout.committedRowCount(spark, curDir)
        .getOrElse(Layout.parquetRows(spark, manifest.values.toSeq)),
      Layout.committedSchema(spark, curDir))
    newDir
  }

  /** Range-pack task count for a merge write: the LARGER of the touched
    * partition breadth and a 64 MiB-per-file size estimate, capped at
    * the shuffle width. Extracted for the unit spec. */
  private[ingest] def packCount(touched: Int, estBytes: BigInt,
      shuffleN: Int): Int = {
    val bySize = (estBytes / (64L << 20)).min(BigInt(Int.MaxValue)).toInt
    math.max(1, math.min(math.max(touched, bySize), shuffleN))
  }

  // ---- merge ---------------------------------------------------------

  /** Upsert `updates` (and optionally delete `deleteKeys`) into the
    * latest committed version of a layer, publishing a new committed
    * version that rewrites ONLY the touched partitions; returns its
    * directory. An update that touches no partition (no rows in
    * `updates` or `deleteKeys`) publishes nothing and returns None —
    * the touched-partition collect below already evaluated it, so a
    * caller needs no emptiness probe of its own.
    *
    * Last-wins per `keyCols`: a surviving old row is one whose key does
    * not appear in `updates`/`deleteKeys`. The touched-partition list is
    * collected to the driver (guarded — an update slice touching more
    * partitions than the guard should be a plain full rewrite via
    * [[Layout.writeVersioned]], which the error names).
    */
  def merge(spark: SparkSession, base: String, layer: String,
      updates: DataFrame, keyCols: Seq[String], partitionCol: String,
      deleteKeys: Option[DataFrame] = None,
      maxTouchedPartitions: Int = 10000,
      /** Additive schema evolution: `updates` may carry columns the
        * layer does not have yet — the merged version widens the layer,
        * survivors and inherited partitions read as null in the new
        * columns (Delta's mergeSchema semantics at partition-COW
        * granularity). Dropping or retyping columns stays refused:
        * survivors are projected to updates' shape before the union, so
        * a narrower frame would silently destroy data. */
      allowSchemaEvolution: Boolean = false): Option[String] = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(updates.schema(partitionCol).dataType == StringType,
      s"merge partitions on a string column; '$partitionCol' is " +
        updates.schema(partitionCol).dataType.simpleString)

    val vCur = Layout.committedVersions(spark, base, layer).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"no committed versions of $layer under $base — write the initial " +
          "version with Layout.writeVersioned first"))
    val curDir = Layout.versionedDir(base, layer, vCur)

    // inheritance works at partition-dir granularity: a base version
    // written WITHOUT partitionBy has no partition dirs to inherit, and
    // merging onto it would silently drop every untouched row
    val effCur = effectiveDirs(spark, base, layer, vCur)
    require(effCur.nonEmpty,
      s"v$vCur of $layer is not hive-partitioned — rewrite it with " +
        s"Layout.writeVersioned(partitionCols = Seq(\"$partitionCol\")) before merging")

    // the layer's columns as vCur's marker records them (the widened
    // schema on an evolved chain); a marker that records none (an older
    // lake) falls back to the resolved read's inferred schema
    val layerColumns: Seq[String] = Layout.committedSchema(spark, curDir)
      .fold(readResolved(spark, base, layer, vCur).columns.toSeq)(_.fieldNames.toSeq)
    // a narrower updates frame would silently DROP the missing columns
    // from every rewritten row (survivors are projected to updates'
    // shape before the union) — refuse always; EXTRA columns are the
    // additive-evolution case and need the explicit flag
    require(layerColumns.toSet.subsetOf(updates.columns.toSet),
      s"merge updates schema must match the layer: missing " +
        s"${layerColumns.toSet.diff(updates.columns.toSet).mkString(",")}" +
        (if (allowSchemaEvolution) "" else s"; extra " +
          s"${updates.columns.toSet.diff(layerColumns.toSet).mkString(",")}"))
    require(allowSchemaEvolution || updates.columns.toSet == layerColumns.toSet,
      s"merge updates carry columns the layer lacks (" +
        s"${updates.columns.toSet.diff(layerColumns.toSet).mkString(",")}) — " +
        "pass allowSchemaEvolution = true to widen the layer additively")

    // touched partition values (updates ∪ deletes), driver-side, guarded.
    // deletes MUST carry the partition column: without it the anti-join
    // only sees partitions the updates happen to touch, and a delete key
    // living elsewhere would silently survive
    deleteKeys.foreach(d => require(d.columns.contains(partitionCol),
      s"deleteKeys must include the partition column '$partitionCol' " +
        "so deletes can locate their partitions"))
    val touchedDf = deleteKeys match {
      case Some(d) =>
        updates.select(partitionCol).union(d.select(partitionCol)).distinct()
      case None => updates.select(partitionCol).distinct()
    }
    val touched = touchedDf.collect().map(_.getString(0)).toSeq
    if (touched.isEmpty) return None
    require(touched.size <= maxTouchedPartitions,
      s"merge touches ${touched.size} partitions (guard: $maxTouchedPartitions) " +
        "— at that breadth a full rewrite via Layout.writeVersioned is the " +
        "better plan, or raise maxTouchedPartitions explicitly.")
    require(touched.forall(v => v != null && SafeValue.matches(v)),
      "merge partition values must be hive-safe ([A-Za-z0-9._-]+); got: " +
        touched.filter(v => v == null || !SafeValue.matches(v)).take(5).mkString(", "))

    val affectedDirNames = touched.map(v => s"$partitionCol=$v")
    val replacedDirs = affectedDirNames.flatMap(effCur.get)
    // pure-append fast path: every touched partition value is NEW (the
    // incremental bank/index layers append one bNNNN batch of dirs per
    // delta), so there are no survivors to read and nothing a delete
    // key could remove — the resolved-layer read is skipped entirely
    val pureAppend = replacedDirs.isEmpty
    val outCols: Seq[String] =
      layerColumns ++ updates.columns.filterNot(layerColumns.contains)
    val (newData, replacedRows) =
      if (pureAppend) (updates.select(outCols.map(col): _*), () => 0L)
      else {
        // survivors of the touched partitions: partition pruning keeps
        // this read to the touched dirs only, and the rows it reads are
        // exactly the rows this version replaces
        val (old, replaced) = Layout.observeRows(
          readResolved(spark, base, layer, vCur).filter(col(partitionCol).isin(touched: _*)),
          replacedDirs)
        val afterDeletes = deleteKeys match {
          case Some(d) => old.join(d, d.columns.toSeq.intersect(old.columns.toSeq), "left_anti")
          case None => old
        }
        // a sort-merge anti-join, never a broadcast of the update keys:
        // its exchange gives `old` a map stage of its own, which runs
        // once. Broadcast, `old` would be read in the stage that feeds
        // the range exchange below, whose sampling job re-runs that
        // stage and would double `replaced`
        val survivors = afterDeletes.join(
          updates.select(keyCols.map(col): _*).hint("merge"), keyCols, "left_anti")
        // evolution: survivors gain the new columns as TYPED nulls
        val widened = outCols.foldLeft(survivors)((df, c) =>
          if (df.columns.contains(c)) df
          else df.withColumn(c,
            org.apache.spark.sql.functions.lit(null)
              .cast(updates.schema(c).dataType)))
        (widened.select(outCols.map(col): _*)
          .unionByName(updates.select(outCols.map(col): _*)), replaced)
      }

    val vNew = Layout.latestVersion(spark, base, layer).getOrElse(0) + 1
    val newDir = Layout.versionedDir(base, layer, vNew)
    // range-pack on (partition value, keys) before the partitioned write:
    // an unpacked write emits one file per (task × partition value) —
    // measured at 32 tasks × 64 bucket dirs = up to 2048 files per bank
    // batch — while ranges keep each task inside few partition values
    // yet still split a hot value across tasks (the Layout.compact
    // packing rationale; a plain hash repartition would funnel a hot
    // partition into one task). Task count is the LARGER of the touched
    // breadth and a 64 MiB-per-file size estimate, capped at the shuffle
    // width: capping at touched.size alone serialized every
    // single-partition-value merge (the incremental layers' one
    // batch=bNNNN dir per delta) into ONE task regardless of delta size
    // — ranges on the trailing key columns split such a value across
    // tasks without reintroducing the file explosion, since each range
    // still spans ~one partition value.
    // size the estimate from the UPDATES frame's stats PLUS the actual
    // on-disk bytes of the partitions being rewritten, not from newData:
    // the survivors union's sizeInBytes is a coarse upper bound (join
    // estimates multiply), and an inflated estimate widened every small
    // merge to the full shuffle width — re-shattering the small files
    // the packing exists to avoid. updates' stats come straight from
    // its source; the replaced dirs' file lengths are exact (an O(touched
    // dirs) listing) and keep a tiny upsert into a survivor-heavy
    // partition writing its rewrite in parallel instead of one giant
    // single-task file.
    val replacedBytes: Long = replacedDirs.map { d =>
      val f = fs(spark, d)
      val it = f.listFiles(new Path(d), true)
      var bytes = 0L
      while (it.hasNext) bytes += it.next().getLen
      bytes
    }.sum
    val nPack = packCount(touched.size,
      updates.queryExecution.optimizedPlan.stats.sizeInBytes + replacedBytes,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // the written rows are observed ABOVE the range exchange: the range
    // partitioner's sampling job runs the exchange's child plan a second
    // time, and an observation below it would count those rows twice
    val (packed, writtenRows) = Layout.observeRows(
      newData.repartitionByRange(nPack, (partitionCol +: keyCols).map(col): _*),
      Seq(newDir))
    packed.write.mode("errorifexists").partitionBy(partitionCol).parquet(newDir)

    writeMarker(spark, newDir, MergeInfo(vCur, partitionCol, affectedDirNames,
      evolved = outCols.size > layerColumns.size))
    // commit attests the EFFECTIVE row count without a footer walk:
    // vCur's attested count − the rows the replaced partitions held +
    // the rows this write produced, both observed on the write job.
    // Only a vCur marker without a count walks the inherited dirs'
    // footers. The recorded schema is the written one, partition
    // column last, as the version reads back.
    val inherited = Layout.committedRowCount(spark, curDir)
      .map(_ - replacedRows())
      .getOrElse(Layout.parquetRows(spark, (effCur -- affectedDirNames).values.toSeq))
    Layout.commitAttested(spark, newDir, inherited + writtenRows(),
      Some(StructType(newData.schema.filterNot(_.name == partitionCol) :+
        newData.schema(partitionCol))))
    Some(newDir)
  }
}
