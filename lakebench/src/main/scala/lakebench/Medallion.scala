package lakebench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.snapshot.Snapshot

/** `medallion`: the paper's batch pipeline as a CLI user runs it —
  * ingest → materialize → catalog → validate → quality → index-build
  * (IVF) → snapshot — cold, as the first work of a fresh JVM; then the
  * lake it built serves a closed loop of search and lookup requests
  * ([[Search]]). */
object Medallion {
  import Bench._

  val Steps: Seq[String] =
    Seq("ingest", "materialize", "catalog", "validate", "quality", "index-build", "snapshot")

  def run(o: Opts, spark: SparkSession, sessionS: Double): Result = {
    val input = new File(o.work, "input")
    val eps = Gen.writeTranscripts(input, o.seed, MedallionEpisodes, UttsPerEpisode)
    val props = Gen.transcriptProps(eps)
    val inputBytes = bytesUnder(input)
    val lake = new File(o.work, "lake")
    val heap = new HeapWatch
    val p = pipeline(spark, input, lake, props.utterances, props.spans, None, heap)
    val lakeBytes = bytesUnder(lake) + bytesUnder(snapshotsOf(lake))
    val record = mutable.LinkedHashMap[String, Any](
      "input" -> propsMap(props, inputBytes), "pipeline_s" -> p.seconds, "steps_s" -> p.steps,
      "beats_per_span" -> p.beatsPerSpan, "session_s" -> sessionS)
    val failures = mutable.ArrayBuffer.empty[String] ++= p.failures
    var attempted = Steps.length.toLong
    var failed = p.failed
    // trace: the same pipeline, cold and traced, in a fresh JVM
    val pipelineLedger = if (!o.trace) Map.empty[String, Double] else {
      val c = child(o, Seq("--input", input.getPath,
        "--utterances", props.utterances.toString, "--spans", props.spans.toString))
      attempted += Steps.length
      failed += c.path("failed").asLong(Steps.length)
      failures ++= c.path("failures").elements().asScala.map(_.asText)
      record("pipeline_traced_s") = c.path("seconds").asDouble
      record("pipeline_spans") = Report.RawJson(c.path("spans").toString)
      ledgerOf(c) +
        ("trace.overhead_s" -> (c.path("seconds").asDouble(p.seconds) - p.seconds))
    }
    if (p.failed > 0) // no lake to serve
      return Result(attempted, failed, failures.toSeq, Seq.empty, record.toMap)
    val s = Search.serve(o, spark, lake, eps, failures, heap)
    attempted += s.attempted
    failed += s.failed
    val peak = heap.peakMb
    record ++= s.record
    val metrics = if (!o.trace) Seq(
      "setup_s" -> (sessionS + s.setupS),
      "items_per_s" -> props.utterances / p.seconds,
      "op_p50_ms" -> s.p50Ms,
      "peak_heap_mb" -> peak,
      "lake_bytes_per_input_byte" -> lakeBytesRatio(lakeBytes, inputBytes))
    else {
      val raw = mergeLedgers(pipelineLedger, s.ledger)
      record("ledger_raw") = raw
      Ledger.metrics(raw)
    }
    Result(attempted, failed, failures.toSeq, metrics, record.toMap)
  }

  def snapshotsOf(lake: File): File = new File(lake.getPath + "-snapshots")

  def propsMap(p: Gen.TranscriptProps, inputBytes: Long): Map[String, Any] = Map(
    "utterances" -> p.utterances, "episodes" -> p.episodes, "spans" -> p.spans,
    "exact_dup_share" -> p.exactDupShare, "input_bytes" -> inputBytes,
    "utterances_per_episode" -> UttsPerEpisode)

  final case class Pipeline(seconds: Double, steps: Map[String, Double], beatsPerSpan: Double,
      failed: Long, failures: Seq[String])

  private val Num = """(\d+)""".r

  /** Steps after which the heap is sampled: the ones that hold the most. */
  private val Sampled = Set("materialize", "quality", "snapshot")

  /** One pipeline through the CLI, every step checked against the
    * generator; then the snapshot checked against its manifest. Its time
    * is the sum of the steps' times: the heap samples between steps stay
    * out of it. */
  def pipeline(spark: SparkSession, input: File, lakeDir: File, utterances: Long, spans: Long,
      tracer: Option[Tracer], heap: HeapWatch): Pipeline = {
    val lake = lakeDir.getPath
    val snaps = snapshotsOf(lakeDir).getPath
    val failures = mutable.ArrayBuffer.empty[String]
    val stepS = mutable.LinkedHashMap.empty[String, Double]
    var failed = 0L
    var beatsPerSpan = 0.0
    def step(name: String, layer: String)(args: String*)(check: String => Unit): Unit =
      if (failed > 0) failed += 1 // a pipeline stops at its first failed step
      else try {
        val (out, s) = timed(tracer.fold(cli(spark, args: _*))(_.span(layer)(cli(spark, args: _*))))
        stepS(name) = s
        if (Sampled(name)) heap.sample()
        check(out)
      } catch {
        case e: Throwable => failed += 1; failures += s"$name: $e"
      }
    def expect(cond: Boolean, what: => String): Unit = if (!cond) { failures += what; failed += 1 }
    def nums(out: String, prefix: String): Seq[Long] =
      out.linesIterator.find(_.startsWith(prefix)).toSeq
        .flatMap(l => Num.findAllIn(l).map(_.toLong))

    locally {
      step("ingest", "ingest")("ingest", input.getPath, lake) { out =>
        val n = nums(out, "ingested:").headOption.getOrElse(-1L)
        expect(n == utterances, s"ingest: $n utterances, generator wrote $utterances")
      }
      step("materialize", "cli.materialize")("materialize", lake) { out =>
        val Seq(sp, bt, _) = nums(out, "materialized:").take(3)
        expect(sp == spans, s"materialize: $sp spans, generator predicts $spans")
        beatsPerSpan = bt.toDouble / math.max(1L, sp)
      }
      step("catalog", "catalogs")("catalog", lake)(_ => ())
      step("validate", "validation")("validate", lake) { out =>
        val line = out.linesIterator.find(_.startsWith("validation:")).getOrElse("")
        val errors = """errors=(\d+)""".r.findFirstMatchIn(line).map(_.group(1).toLong)
        expect(errors.contains(0L), s"validate: '$line'")
        Num.findAllIn(line).toSeq.lift(1).foreach(t => tracer.foreach(_.add("validation.checks", t.toDouble)))
      }
      step("quality", "quality")("quality", lake)(_ => ())
      step("index-build", "index.build")("index-build",
          s"$lake/span_embeddings/embeddings.parquet", s"$lake/ann_index", "--id-col", "artifact_id") { out =>
        val n = nums(out, "built ivf index").headOption.getOrElse(-1L)
        expect(n == spans, s"index-build: $n vectors, expected $spans")
        tracer.foreach(_.add("index.build.vectors", n.toDouble))
      }
      step("snapshot", "snapshot")("snapshot", lake, snaps, "v1.0.0")(_ => ())
    }
    // snapshot integrity, outside the timed pipeline
    if (failed == 0) try {
      val dir = s"$snaps/v1.0.0"
      val problems = Snapshot.validate(spark, dir, readManifest(new File(dir, "manifest.json")))
      expect(problems.isEmpty, s"snapshot validate: ${problems.take(5).mkString("; ")}")
      tracer.foreach { t =>
        t.add("snapshot.files", filesUnder(new File(dir)).toDouble)
        t.add("snapshot.bytes_copied", bytesUnder(new File(dir)).toDouble)
        t.add("ingest.utterances", utterances.toDouble)
      }
    } catch { case e: Throwable => failed += 1; failures += s"snapshot validate: $e" }
    Pipeline(stepS.values.sum, stepS.toMap, beatsPerSpan, failed.min(Steps.length), failures.toSeq)
  }

  /** The traced pipeline of a `--role child` JVM. */
  def childMain(o: Opts, spark: SparkSession): Map[String, Any] = {
    val tr = new Tracer(spark, cores)
    tr.attach()
    val p = pipeline(spark, new File(o.extra("input")), new File(o.work, "lake-traced"),
      o.extra("utterances").toLong, o.extra("spans").toLong, Some(tr), new HeapWatch)
    tr.detach()
    Map("seconds" -> p.seconds, "failed" -> p.failed, "failures" -> p.failures,
      "ledger" -> tr.ledger(), "spans" -> spanMaps(tr))
  }

  /** Manifest back from its JSON, for [[Snapshot.validate]]. */
  def readManifest(f: File): Snapshot.Manifest = {
    val n = new ObjectMapper().readTree(f)
    Snapshot.Manifest(n.path("version").asText, n.path("created_utc").asText,
      n.path("files").elements().asScala.map { e =>
        Snapshot.FileEntry(e.path("path").asText, e.path("bytes").asLong,
          e.path("sha256").asText, if (e.path("rows").isNull) None else Some(e.path("rows").asLong))
      }.toSeq)
  }
}
