package graft.quality

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.quality.Quality.{Assessment, Violation}

class ReporterSpec extends AnyFunSuite {
  private val counts = Reporter.DatasetCounts(2, 20, 6, embeddingsAvailable = true)
  private val clean = Assessment(
    Map("coverage_pct" -> 97.5, "span_dup_pct" -> 0.0), Nil, "GREEN")
  private val dirty = Assessment(
    Map("coverage_pct" -> 80.0, "span_dup_pct" -> 4.5),
    Seq(
      Violation("coverage_min", ">= 95.0", "80.00", "error"),
      Violation("exact_duplicate_pct", "<= 1.0", "4.50", "error"),
      Violation("gap_max_percent", "<= 2.0", "3.10", "warning")),
    "RED")

  test("executive summary carries status, counts, and critical issues") {
    val md = Reporter.executiveSummary(dirty, counts, "2026-08-12T00:00:00Z")
    assert(md.contains("**RED**"))
    assert(md.contains("Episodes: 2") && md.contains("Spans: 20"))
    assert(md.contains("Critical Issues"))
    assert(md.contains("coverage_min"))
  }

  test("go/no-go tracks RAG status") {
    assert(Reporter.goNoGo("GREEN").contains("**GO**"))
    assert(Reporter.goNoGo("AMBER").contains("CONDITIONAL GO"))
    assert(Reporter.goNoGo("RED").contains("NO-GO"))
  }

  test("findings group violations by category with remediation text") {
    val md = Reporter.findingsAndRemediation(dirty)
    assert(md.contains("Coverage"))
    assert(md.contains("Ordering & Integrity"))
    assert(md.contains("Remediation"))
    assert(Reporter.findingsAndRemediation(clean).contains("All quality checks passed"))
  }

  test("ascii histogram renders one bar per bin with counts") {
    val hist = Map(0 -> 5L, 1 -> 10L, 2 -> 0L)
    val md = Reporter.asciiHistogram(hist, Seq(0.0, 20.0, 40.0), "Test Dist", maxWidth = 10)
    assert(md.contains("Test Dist"))
    assert(md.contains("█" * 10)) // the max bin fills the width
    assert(md.split("\n").count(_.contains(" | ")) == 3)
  }

  test("C11: excerpt truncates with ellipsis and normalizes whitespace") {
    assert(Reporter.formatTextExcerpt("a  b\n\nc") == "a b c")
    val long = "x" * 200
    val out = Reporter.formatTextExcerpt(long, maxLength = 20)
    assert(out.length == 20 && out.endsWith("..."))
    assert(Reporter.formatTextExcerpt(null) == "")
  }

  test("CSV escaping quotes fields with commas, quotes, and newlines") {
    assert(Reporter.csvField("plain") == "plain")
    assert(Reporter.csvField("a,b") == "\"a,b\"")
    assert(Reporter.csvField("say \"hi\"") == "\"say \"\"hi\"\"\"")
    assert(Reporter.csvField("line\nbreak") == "\"line\nbreak\"")
  }

  test("violations CSV parses back to the violation rows") {
    val csv = Reporter.violationsCsv(dirty)
    val lines = csv.trim.split("\n")
    assert(lines.head == "threshold_name,expected,actual,severity")
    assert(lines.length == 4)
    assert(lines(1).startsWith("coverage_min,"))
  }

  test("metrics JSON is machine-parseable and complete") {
    val json = Reporter.metricsJson(dirty, counts, "2026-08-12T00:00:00Z")
    // parse with the same C20-style extraction the reference round-trips
    assert(json.contains(""""rag_status": "RED""""))
    assert(json.contains(""""total_spans": 20"""))
    assert(json.contains(""""coverage_pct": 80.0"""))
    assert(json.contains(""""error_count": 2"""))
    // balanced braces/brackets — cheap well-formedness proxy
    assert(json.count(_ == '{') == json.count(_ == '}'))
    assert(json.count(_ == '[') == json.count(_ == ']'))
  }

  test("frameCsv escapes embedded delimiters and round-trips row counts") {
    val csv = Reporter.frameCsv(Seq("k", "msg", "v"),
      Seq(Row("a,b", "say \"hi\"", 1.5), Row("plain", "line\nbreak", -2.0)))
    assert(csv.startsWith("k,msg,v"))
    assert(csv.contains("\"a,b\"") && csv.contains("\"say \"\"hi\"\"\""))
    // RFC-4180: quoted newline stays inside one logical record
    val logicalRows = csv.split("\n", -1).count(_.nonEmpty) - 1 // minus header
    assert(logicalRows == 3) // 2 records, one containing a line break
  }

  test("writeAll emits md + json + csv and they read back") {
    val dir = Files.createTempDirectory("graft_reports").toString
    val files = Reporter.writeAll(dirty, counts, "2026-08-12T00:00:00Z", dir,
      spanHist = Some(Map(0 -> 5L)), beatHist = None,
      episodeRows = Some(Seq(Row("ep1", 100.0, 97.0, 97.0))))
    assert(files.length == 4)
    val md = Files.readString(Paths.get(s"$dir/report.md"))
    assert(md.contains("Executive Summary") && md.contains("NO-GO")
      && md.contains("Span Duration Distribution"))
    assert(Files.readString(Paths.get(s"$dir/violations.csv")).contains("coverage_min"))
    val epCsv = Files.readString(Paths.get(s"$dir/episodes.csv"))
    assert(epCsv.startsWith("episode_id,") && epCsv.contains("ep1"))
    assert(Files.readString(Paths.get(s"$dir/global_metrics.json")).contains("dataset_summary"))
  }
}
