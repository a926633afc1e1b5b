package graft.quality

import scala.collection.immutable.ListMap

import org.apache.spark.sql.Row

import graft.core.Json
import graft.quality.Quality.{Assessment, Thresholds, Violation}

/** Quality report rendering + exports (reference:
  * src/lakehouse/quality/reporter.py:162-447 sections, :947-1235 exports;
  * C11 excerpt/CSV escape from quality/diagnostics.py:247-287).
  *
  * Everything here formats ALREADY-AGGREGATED results (an [[Assessment]]
  * plus small histogram/outlier frames) — report rendering is driver-side
  * string work over a few hundred rows, never a distributed job.
  */
object Reporter {

  /** Dataset counts shown in the executive summary. */
  final case class DatasetCounts(episodes: Long, spans: Long, beats: Long,
      embeddingsAvailable: Boolean)

  private def ragEmoji(rag: String): String = rag match {
    case "GREEN" => "🟢"
    case "AMBER" => "🟠"
    case _       => "🔴"
  }

  /** FR-36 executive summary. */
  def executiveSummary(a: Assessment, counts: DatasetCounts, timestamp: String): String = {
    val errors = a.violations.filter(_.severity == "error")
    val warnings = a.violations.filter(_.severity == "warning")
    val sb = new StringBuilder
    sb.append("## Executive Summary\n\n")
    sb.append(s"**Overall Status:** ${ragEmoji(a.ragStatus)} **${a.ragStatus}**\n\n")
    sb.append(s"**Assessment Date:** $timestamp\n\n")
    sb.append("**Dataset Overview:**\n")
    sb.append(s"- Episodes: ${counts.episodes}\n")
    sb.append(s"- Spans: ${counts.spans}\n")
    sb.append(s"- Beats: ${counts.beats}\n")
    sb.append(s"- Embeddings Available: ${if (counts.embeddingsAvailable) "Yes" else "No"}\n\n")
    sb.append("**Quality Check Results:**\n")
    sb.append(s"- Metrics Recorded: ${a.metrics.size}\n")
    sb.append(s"- Warnings: ${warnings.size} issues\n")
    sb.append(s"- Errors: ${errors.size} critical failures\n")
    if (errors.nonEmpty) {
      sb.append("\n**Critical Issues:**\n")
      errors.take(5).foreach(v =>
        sb.append(s"- ${v.name}: expected ${v.expected}, got ${v.actual}\n"))
      if (errors.size > 5) sb.append(s"- ... and ${errors.size - 5} more\n")
    }
    sb.toString
  }

  /** FR-37 ASCII histogram from bin counts (bin id as
    * [[graft.operators.Stats.binIndex]] → rows) with the edges they were
    * binned by. */
  def asciiHistogram(counts: Map[Int, Long], edges: Seq[Double], title: String,
      maxWidth: Int = 60): String = {
    if (counts.isEmpty) return s"**$title**\n\n(No data available)\n"
    val maxCount = math.max(counts.values.max, 1L)
    val sb = new StringBuilder
    sb.append(s"**$title**\n\n```\n")
    (0 until edges.size).foreach { i =>
      val n = counts.getOrElse(i, 0L)
      val lo = f"${edges(i)}%6.1f"
      val hi = if (i + 1 < edges.size) f"${edges(i + 1)}%6.1f" else "   inf"
      val bar = "█" * ((n.toDouble / maxCount * maxWidth).toInt)
      sb.append(s"${lo}s - ${hi}s | $bar $n\n")
    }
    sb.append("```\n")
    sb.toString
  }

  /** FR-38 findings + canned remediation, grouped by category. */
  def findingsAndRemediation(a: Assessment): String = {
    if (a.violations.isEmpty)
      return "## Findings and Recommendations\n\n" +
        "✅ **All quality checks passed!** No issues detected.\n"
    val sb = new StringBuilder("## Findings and Recommendations\n\n")
    def section(title: String, vs: Seq[Violation], remedy: String): Unit =
      if (vs.nonEmpty) {
        sb.append(s"### $title\n\n")
        vs.foreach(v => sb.append(
          s"- **${v.name}** (${v.severity}): expected ${v.expected}, got ${v.actual}\n"))
        sb.append(s"\n**Remediation:** $remedy\n\n")
      }
    val byName = (p: String) => a.violations.filter(_.name.toLowerCase.contains(p))
    section("Coverage", (byName("coverage") ++ byName("gap") ++ byName("overlap")).distinct,
      "Check span generation for dropped utterances; verify episode duration " +
        "extraction; inspect the gap report for systematic silence handling.")
    section("Length Distribution", byName("length_compliance").distinct,
      "Tune span/beat packing bounds; re-run segmentation with adjusted " +
        "min/max durations; inspect outlier segments via the diagnostics sample.")
    section("Ordering & Integrity",
      (byName("timestamp") ++ byName("duplicate") ++ byName("negative")).distinct,
      "Re-sort inputs by (episode, start); dedupe with the exact/MinHash " +
        "pipelines before re-materializing; reject source files with inverted timestamps.")
    section("Embedding Leakage", (byName("speaker") ++ byName("episode_neighbor")).distinct,
      "Re-train or re-prompt the encoder to suppress speaker/show style; " +
        "consider stripping speaker tokens from embedded text.")
    section("Embedding Bias", (byName("bias") ++ byName("adjacency")).distinct,
      "Normalize embedding inputs to a fixed token budget; drop positional " +
        "metadata from the embedded text; re-check after re-embedding.")
    sb.toString
  }

  /** FR-39 go/no-go recommendation. */
  def goNoGo(rag: String): String = rag match {
    case "GREEN" =>
      "## Go/No-Go Recommendation\n\n### ✅ **GO** — Ready for Production\n\n" +
        "All quality checks passed. Suitable for embedding generation, RAG " +
        "deployment, semantic search, and fine-tuning.\n"
    case "AMBER" =>
      "## Go/No-Go Recommendation\n\n### ⚠️ **CONDITIONAL GO** — Proceed with Caution\n\n" +
        "Minor issues detected; proceed, monitor the flagged areas, and plan " +
        "remediation for the next iteration.\n"
    case _ =>
      "## Go/No-Go Recommendation\n\n### ❌ **NO-GO** — Not Ready for Production\n\n" +
        "Critical violations must be resolved and the assessment re-run before " +
        "production use. See Findings and Recommendations.\n"
  }

  /** Full markdown report: exec summary → metrics → histograms → findings
    * → go/no-go (reporter.py's section order). */
  def renderFull(a: Assessment, counts: DatasetCounts, timestamp: String,
      spanHist: Option[Map[Int, Long]] = None,
      beatHist: Option[Map[Int, Long]] = None): String = {
    val sb = new StringBuilder
    sb.append("# Quality Assessment Report\n\n")
    sb.append(executiveSummary(a, counts, timestamp)).append("\n")
    sb.append("## Metrics\n\n| metric | value |\n|---|---|\n")
    a.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(f"| $k | $v%.4f |\n")
    }
    sb.append("\n")
    spanHist.foreach(h =>
      sb.append(asciiHistogram(h, Quality.SpanHistEdges, "Span Duration Distribution"))
        .append("\n"))
    beatHist.foreach(h =>
      sb.append(asciiHistogram(h, Quality.BeatHistEdges, "Beat Duration Distribution"))
        .append("\n"))
    sb.append(findingsAndRemediation(a)).append("\n")
    sb.append(goNoGo(a.ragStatus))
    sb.toString
  }

  // ---- C11: excerpt + CSV escape (diagnostics.py:247-287) -------------

  /** Whitespace-normalized excerpt with ellipsis at maxLength. */
  def formatTextExcerpt(text: String, maxLength: Int = 100,
      addEllipsis: Boolean = true): String = {
    if (text == null) return ""
    val norm = text.split("\\s+").filter(_.nonEmpty).mkString(" ")
    if (norm.length <= maxLength) norm
    else if (addEllipsis) norm.substring(0, math.max(maxLength - 3, 0)) + "..."
    else norm.substring(0, maxLength)
  }

  /** RFC-4180 CSV field: quoted when it contains a comma/quote/newline. */
  def csvField(s: String): String = {
    val v = if (s == null) "" else s
    if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + v.replace("\"", "\"\"") + "\""
    else v
  }

  // ---- exports (reporter.py:947-1235) ---------------------------------

  /** Violations as CSV (threshold_name, expected, actual, severity). */
  def violationsCsv(a: Assessment): String =
    (Seq("threshold_name,expected,actual,severity") ++
      a.violations.map(v =>
        Seq(v.name, v.expected, v.actual, v.severity).map(csvField).mkString(",")))
      .mkString("", "\n", "\n")

  /** Small driver-side rows as CSV — header + escaped rows (per-episode
    * metrics export). */
  def frameCsv(columns: Seq[String], rows: Seq[Row]): String =
    (columns.mkString(",") +: rows.map { r =>
      columns.indices.map(i => csvField(Option(r.get(i)).map(_.toString).getOrElse("")))
        .mkString(",")
    }).mkString("", "\n", "\n")

  /** Global metrics JSON: metadata, dataset summary, flat metrics map,
    * violations list (FR-4 export shape). A non-finite metric is null. */
  def metricsJson(a: Assessment, counts: DatasetCounts, timestamp: String): String =
    Json.dumps(ListMap(
      "metadata" -> ListMap("assessment_timestamp" -> timestamp,
        "rag_status" -> a.ragStatus, "embeddings_available" -> counts.embeddingsAvailable),
      "dataset_summary" -> ListMap("total_episodes" -> counts.episodes,
        "total_spans" -> counts.spans, "total_beats" -> counts.beats),
      "metrics" -> ListMap.from(a.metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Option(v).filterNot(d => d.isNaN || d.isInfinite) }),
      "violations" -> ListMap("total_count" -> a.violations.size,
        "error_count" -> a.violations.count(_.severity == "error"),
        "warning_count" -> a.violations.count(_.severity == "warning"),
        "violations_list" -> a.violations.map(v => ListMap("threshold_name" -> v.name,
          "expected" -> v.expected, "actual" -> v.actual, "severity" -> v.severity)))))

  /** Write the md + json + csv report set under `dir`. */
  def writeAll(a: Assessment, counts: DatasetCounts, timestamp: String, dir: String,
      spanHist: Option[Map[Int, Long]] = None, beatHist: Option[Map[Int, Long]] = None,
      episodeRows: Option[Seq[Row]] = None): Seq[String] = {
    val d = new java.io.File(dir)
    d.mkdirs()
    def write(name: String, content: String): String = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.writeString(p, content)
      p.toString
    }
    Seq(
      write("report.md", renderFull(a, counts, timestamp, spanHist, beatHist)),
      write("global_metrics.json", metricsJson(a, counts, timestamp)),
      write("violations.csv", violationsCsv(a))) ++
      episodeRows.map(rs =>
        write("episodes.csv", frameCsv(Quality.EpisodeCoverageColumns, rs))).toSeq
  }
}
