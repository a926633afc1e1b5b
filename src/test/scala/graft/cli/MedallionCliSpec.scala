package graft.cli

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.core.Schemas
import graft.validation.Validation

/** The medallion CLI (`ingest → materialize → validate → quality`) on a
  * small deterministic 3-episode lake.
  *
  * Golden: the printed count lines, the validation check rows and the
  * quality report files must stay byte-identical to the committed copies
  * under `src/test/resources/medallion-golden/` (timestamps masked).
  *
  * Job budget: every Spark job a command starts is counted by a
  * `SparkListener`, filtered by a job group set around each `Main.run`;
  * the counts are ceilings, so a change that re-adds a redundant pass
  * fails here instead of only in a benchmark's wall time.
  */
class MedallionCliSpec extends AnyFunSuite {
  import MedallionCliSpec._

  private lazy val spark = SparkTestSession.spark

  /** The lake, built once. */
  private lazy val built: Built = build(spark)

  private def golden(name: String): String =
    new String(Files.readAllBytes(GoldenDir.resolve(name)), UTF_8)

  private def assertGolden(name: String, actual: String): Unit = {
    val want = golden(name)
    assert(actual == want, s"$name differs from its golden:\n--- got ---\n$actual\n--- want ---\n$want")
  }

  test("golden: the ingest, materialize and validate count lines") {
    assertGolden("stdout.txt", countLines(built))
  }

  test("golden: validateAll check rows over the lake's tables") {
    assertGolden("checks.csv", checkRows(spark, built.lake))
  }

  test("golden: quality report files (timestamps masked)") {
    val dir = Paths.get(built.lake, "quality_reports")
    ReportFiles.foreach { f =>
      assertGolden(f, maskTimestamps(new String(Files.readAllBytes(dir.resolve(f)), UTF_8)))
    }
  }

  test("job budget: materialize, validate and quality stay within their Spark job ceilings") {
    val over = JobCeilings.collect {
      case (cmd, ceiling) if built.jobs.getOrElse(cmd, 0) > ceiling =>
        s"$cmd ran ${built.jobs(cmd)} jobs (ceiling $ceiling)"
    }
    assert(over.isEmpty, s"${over.mkString("; ")}; all counts: ${built.jobs}")
    assert(JobCeilings.keys.forall(built.jobs.getOrElse(_, 0) > 0),
      s"a command ran no job in its group: ${built.jobs}")
  }
}

object MedallionCliSpec {

  final case class Built(lake: String, stdout: Map[String, String], jobs: Map[String, Int])

  /** Runs `ingest → materialize → validate → quality` into a fresh lake,
    * each command in its own job group with its stdout captured. */
  def build(spark: org.apache.spark.sql.SparkSession): Built = {
    val in = Files.createTempDirectory("graft_medallion_in")
    writeTranscripts(in)
    val lake = Files.createTempDirectory("graft_medallion_lake").toString
    val jobs = new JobCounter
    spark.sparkContext.addSparkListener(jobs)
    try {
      val runs = Seq(
        Seq("ingest", in.toString, lake),
        Seq("materialize", lake),
        Seq("validate", lake),
        Seq("quality", lake)).map { args =>
        val out = new java.io.ByteArrayOutputStream()
        spark.sparkContext.setJobGroup(args.head, args.mkString(" "))
        try Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
          Main.run(spark, args.toArray)
        } finally spark.sparkContext.clearJobGroup()
        args.head -> new String(out.toByteArray, UTF_8)
      }.toMap
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      Built(lake, runs, jobs.byGroup.toMap)
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  /** The `ingested:`, `materialized:` and `validation:` lines. */
  def countLines(b: Built): String =
    Seq("ingest" -> "ingested:", "materialize" -> "materialized:",
      "validate" -> "validation:").map { case (cmd, prefix) =>
      b.stdout(cmd).linesIterator.find(_.startsWith(prefix))
        .getOrElse(sys.error(s"$cmd printed no '$prefix' line:\n${b.stdout(cmd)}"))
    }.mkString("", "\n", "\n")

  val GoldenDir: Path = Paths.get("src/test/resources/medallion-golden")

  val ReportFiles: Seq[String] =
    Seq("global_metrics.json", "report.md", "violations.csv", "episodes.csv")

  /** Spark jobs per command on the spec lake (local[4], 4 shuffle
    * partitions, AQE on): each layer generated once, the validation
    * battery one query, every quality figure from the assessment's own
    * passes. */
  val JobCeilings: Map[String, Int] = Map("materialize" -> 15, "validate" -> 8, "quality" -> 38)

  /** Jobs started per job group. */
  final class JobCounter extends SparkListener {
    val byGroup: mutable.Map[String, Int] = mutable.Map.empty
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => byGroup(g) = byGroup.getOrElse(g, 0) + 1)
    }
  }

  /** Three episodes, 121 utterances. Turns are 0.3 s apart, so runs of
    * one speaker merge into spans. Episode A breaks a run on a 2 s
    * silence now and then; episode B has a 25-utterance monologue (a
    * span above the duration guardrail) between one-utterance turns;
    * episode C has turns that start before the previous one ends
    * (timestamp regressions) and one span repeated word for word
    * (an exact and a near duplicate). */
  def writeTranscripts(dir: Path): Unit = {
    def utt(ep: String, s: Double, e: Double, spk: String, text: String): String =
      f"""{"episode_id":"$ep","start":$s%.2f,"end":$e%.2f,"speaker":"$spk","text":"$text"}"""
    val words = Seq("market", "signal", "river", "model", "budget", "garden", "orbit",
      "ledger", "canyon", "violin", "harbor", "pepper")
    def text(ep: Int, i: Int): String =
      (0 until 6 + i % 5).map(j => words((ep * 7 + i * 3 + j * 5) % words.size))
        .mkString(s"line $i of episode $ep: ", " ", ".")
    val episodes = Seq(
      "EP-A" -> (0 until 40).map { i =>
        val s = i * 8.3 + i / 7 * 2.0
        utt("EP-A", s, s + 8.0, if (i / 4 % 2 == 0) "Alice" else "Bob", text(0, i))
      },
      "EP-B" -> (0 until 45).map { i =>
        val s = i * 11.1
        val spk = if (i >= 10 && i < 35) "Carol" else if (i % 2 == 0) "Dan" else "Carol"
        utt("EP-B", s, s + 10.8, spk, text(1, i))
      },
      "EP-C" -> (0 until 36).map { i =>
        val s = i * 9.8 - (if (i % 4 == 2) 3.0 else 0.0)
        val t = if (i == 8 || i == 9) text(2, i - 4) else text(2, i)
        utt("EP-C", s, s + 9.5, if (i / 2 % 2 == 0) "Eve" else "Frank", t)
      })
    episodes.foreach { case (ep, lines) =>
      Files.write(dir.resolve(s"${ep.toLowerCase}.jsonl"), lines.mkString("\n").getBytes(UTF_8))
    }
  }

  /** `validateAll` over the tables `validate` reads, one CSV line a check. */
  def checkRows(spark: org.apache.spark.sql.SparkSession, lake: String): String = {
    val tables = Map(
      "utterances" -> s"$lake/normalized", "spans" -> s"$lake/spans",
      "beats" -> s"$lake/beats", "sections" -> s"$lake/sections",
      "embeddings" -> s"$lake/span_embeddings/embeddings.parquet")
      .map { case (n, p) => n -> spark.read.parquet(p) }
    val schemas = Map(
      "utterances" -> Schemas.utterance, "spans" -> Schemas.span,
      "beats" -> Schemas.beat, "sections" -> Schemas.section,
      "embeddings" -> Schemas.embedding)
    Validation.validateAll(tables, Validation.lakehouseSpecs, schemas).collect()
      .map(_.toSeq.mkString(",")).mkString("", "\n", "\n")
  }

  private val Timestamp = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?Z""".r

  def maskTimestamps(s: String): String = Timestamp.replaceAllIn(s, "<timestamp>")
}
