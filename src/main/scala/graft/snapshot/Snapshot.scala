package graft.snapshot

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Json

/** Versioned, checksummed snapshots (reference:
  * src/lakehouse/snapshot/artifacts.py:231-452, config.py:148-303,
  * manifest.py).
  *
  * Checksumming runs as a Spark job over `binaryFile` — at 100 TB the
  * manifest hash pass is itself distributed; the reference hashes files
  * one by one on the driver.
  */
object Snapshot {

  /** `rows` is the parquet-footer record count; None for non-parquet
    * files (artifacts.py:290-385 embeds the same per-file metadata). */
  final case class FileEntry(path: String, bytes: Long, sha256: String,
      rows: Option[Long] = None)

  /** QA release gate parsed from the latest quality report
    * (manifest.py:139-238): GREEN → PASS, AMBER/RED → FAIL (AMBER is not
    * releasable), no report → UNKNOWN. `provisional` is always true at
    * snapshot time, matching the reference's provisional-snapshot flow. */
  final case class QaStatus(state: String, summary: String,
      invariants: Map[String, Double], provisional: Boolean = true)

  val UnknownQa: QaStatus = QaStatus("UNKNOWN", "No QA report available", Map.empty)

  final case class Manifest(version: String, createdUtc: String,
      files: Seq[FileEntry], qa: QaStatus = UnknownQa)

  /** sha256 + size for every file under a directory, plus footer row
    * counts for parquet parts, all in ONE distributed job over the bytes
    * it already reads to hash. `withRowCounts = false` skips the footer
    * parse — [[validate]] only compares hashes. */
  def checksumDirectory(spark: SparkSession, dir: String,
      withRowCounts: Boolean = true): Seq[FileEntry] = {
    val rowCount = udf((path: String, content: Array[Byte]) =>
      footerRowCount(path, content).map(Long.box).orNull)
    val rows =
      if (withRowCounts) rowCount(col("path"), col("content")) else lit(null).cast("long")
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length"), sha2(col("content"), 256).as("sha256"), rows)
      .collect()
      .map(r => FileEntry(r.getString(0), r.getLong(1), r.getString(2),
        Option(r.getAs[java.lang.Long](3)).map(_.longValue)))
      .sortBy(_.path).toSeq
  }

  /** Footer-only record count of one parquet file — a metadata read, no
    * data pages touched (artifacts.py:281-307's pq.ParquetFile analog).
    * None for non-parquet files or unreadable footers. */
  def parquetRowCount(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[Long] =
    if (!path.endsWith(".parquet")) None
    else try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(path), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try Some(reader.getRecordCount) finally reader.close()
    } catch { case _: Exception => None }

  /** [[parquetRowCount]] from a file's bytes already in hand: the footer's
    * row-group counts summed, as `ParquetFileReader.getRecordCount`
    * does; no data page is decoded. */
  def footerRowCount(path: String, content: Array[Byte]): Option[Long] =
    if (!path.endsWith(".parquet")) None
    else try {
      val n = content.length
      val magic = new String(content, n - 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val footerLen = java.nio.ByteBuffer.wrap(content, n - 8, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val start = n - 8 - footerLen
      if (magic != "PAR1" || footerLen <= 0 || start < 4) None
      else Some(org.apache.parquet.format.Util
        .readFileMetaData(new java.io.ByteArrayInputStream(content, start, footerLen))
        .getRow_groups.asScala.map(_.getNum_rows).sum)
    } catch { case _: Exception => None }

  /** Parse a quality report (Reporter.renderFull / the reference's
    * quality_assessment.md) into the manifest's qa_status block
    * (manifest.py:139-238). Unlike the reference's `🟢|GREEN` regex —
    * whose unparenthesized alternation matches GREEN anywhere in the
    * document — the status must follow an "Overall Status" label. */
  def parseQaReport(content: String): QaStatus = {
    // [^\w\r\n]* skips markdown bold markers and RAG emoji but stays on
    // the status line, so a GREEN elsewhere in the document can't match
    val statusRe = "(?i)Overall Status:?[^\\w\\r\\n]*(GREEN|AMBER|RED|PASS|FAIL)".r
    val state = statusRe.findFirstMatchIn(content).map(_.group(1).toUpperCase) match {
      case Some("GREEN") | Some("PASS") => "PASS"
      case Some(_)                      => "FAIL" // AMBER is treated as FAIL
      case None                         => "UNKNOWN"
    }
    val summary = "(?is)## (?:Executive )?(?:Summary|Assessment Summary|Overview)(.*?)(?=##|\\z)".r
      .findFirstMatchIn(content).map(_.group(1).trim) match {
      case Some(text) =>
        val s = text.split("\\s+").take(30).mkString(" ")
        if (text.length > 200) s.take(200) + "..." else s
      case None => s"QA assessment completed with status: $state"
    }
    val metricPatterns = Seq(
      "(?i)(?:Total |- )?Episodes:?[*\\s]*([\\d,]+)" -> "episode_count",
      "(?i)(?:Total |- )?Spans:?[*\\s]*([\\d,]+)" -> "span_count",
      "(?i)(?:Total |- )?Beats:?[*\\s]*([\\d,]+)" -> "beat_count",
      "(?i)Duplicate Rate:?[*\\s]*([\\d.]+)%?" -> "duplicate_rate",
      "(?i)Coverage:?[*\\s]*([\\d.]+)%" -> "coverage_percentage")
    val invariants = metricPatterns.flatMap { case (p, key) =>
      p.r.findFirstMatchIn(content)
        .flatMap(m => scala.util.Try(m.group(1).replace(",", "").toDouble).toOption)
        .map(key -> _)
    }.toMap
    QaStatus(state, summary, invariants)
  }

  /** qa_status for the artifacts about to be snapshotted: parse the most
    * recently modified quality report under `dir` (report.md /
    * quality_assessment.md), or UNKNOWN when none exists. */
  def qaStatusFor(spark: SparkSession, dir: String): QaStatus = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return UnknownQa
    val it = fs.listFiles(p, true)
    var latest: Option[org.apache.hadoop.fs.LocatedFileStatus] = None
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name == "report.md" || name == "quality_assessment.md")
        if (latest.forall(_.getModificationTime < st.getModificationTime)) latest = Some(st)
    }
    latest.map { st =>
      val in = fs.open(st.getPath)
      val content = try new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
      parseQaReport(content)
    }.getOrElse(UnknownQa)
  }

  /** Semver parse / auto-increment (config.py:148-303). */
  def parseSemver(v: String): Option[(Int, Int, Int)] =
    "^v?(\\d+)\\.(\\d+)\\.(\\d+)$".r.findFirstMatchIn(v)
      .map(m => (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))

  def bumpSemver(v: String, part: String = "patch"): String =
    parseSemver(v).map { case (ma, mi, pa) =>
      part match {
        case "major" => s"v${ma + 1}.0.0"
        case "minor" => s"v$ma.${mi + 1}.0"
        case _       => s"v$ma.$mi.${pa + 1}"
      }
    }.getOrElse("v0.1.0")

  def renderManifestJson(m: Manifest): String = {
    // whole invariants (counts) print as integers
    def num(d: Double): Any = if (d.isWhole && math.abs(d) < 1e15) d.toLong else d
    Json.dumps(ListMap(
      "version" -> m.version, "created_utc" -> m.createdUtc,
      "qa_status" -> ListMap("state" -> m.qa.state, "summary" -> m.qa.summary,
        "invariants" -> ListMap.from(m.qa.invariants.toSeq.sortBy(_._1).map {
          case (k, v) => k -> num(v) }),
        "provisional" -> m.qa.provisional),
      "files" -> m.files.map(f => ListMap("path" -> f.path, "bytes" -> f.bytes,
        "sha256" -> f.sha256, "rows" -> f.rows))))
  }

  /** Snapshot = copy artifacts dir + manifest with checksums + row counts.
    * Copies via Hadoop FS so it works on any supported filesystem. */
  def create(spark: SparkSession, artifactsDir: String, snapshotDir: String,
      version: String, nowUtc: String): Manifest = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(artifactsDir)
    val dst = new org.apache.hadoop.fs.Path(s"$snapshotDir/$version")
    val fs = src.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, true, conf)
    val manifest = Manifest(version, nowUtc, checksumDirectory(spark, dst.toString),
      qaStatusFor(spark, dst.toString))
    val out = fs.create(new org.apache.hadoop.fs.Path(dst, "manifest.json"), true)
    out.write(renderManifestJson(manifest).getBytes("UTF-8"))
    out.close()
    manifest
  }

  /** Validate a snapshot dir against its manifest (re-hash + compare).
    * Drops Spark's cached file listing first — in-place modifications
    * would otherwise be read with stale file sizes. */
  def validate(spark: SparkSession, snapshotVersionDir: String, m: Manifest): Seq[String] = {
    spark.catalog.refreshByPath(snapshotVersionDir)
    val current = checksumDirectory(spark, snapshotVersionDir, withRowCounts = false)
      .filterNot(_.path.endsWith("manifest.json"))
      .map(f => f.path -> f.sha256).toMap
    m.files.flatMap { f =>
      current.get(f.path) match {
        case None => Some(s"missing: ${f.path}")
        case Some(h) if h != f.sha256 => Some(s"checksum mismatch: ${f.path}")
        case _ => None
      }
    }
  }
}
