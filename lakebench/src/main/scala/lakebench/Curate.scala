package lakebench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ingest.Layout
import graft.pipeline.CuratePipeline

/** `curate`: curate-apply (`CuratePipeline.run`) over transcript-derived
  * documents with planted exact and near duplicates, then fresh delta
  * batches (`CuratePipeline.runIncremental`) with the same duplicate
  * shares, cold, as the first engine work of a fresh JVM. */
object Curate {
  import Bench._

  final case class Batch(docs: Vector[Gen.Doc], path: String)

  /** Generated documents, staged as JSONL files (the engine only sees
    * the files): the apply corpus and the delta batches, each drawn from
    * episodes no other batch uses. */
  def stage(o: Opts): (Batch, Seq[Batch]) = {
    val dir = new File(o.work, "docs"); dir.mkdirs()
    def save(name: String, docs: Vector[Gen.Doc]): Batch = {
      val f = new File(dir, name)
      if (!f.exists) Gen.writeDocuments(f, docs)
      Batch(docs, f.getPath)
    }
    var (docs, next) = Gen.documents(o.seed, 0, CurateApplyDocs, UttsPerEpisode)
    val base = save("apply.jsonl", docs)
    val deltas = (0 until CurateDeltas).map { i =>
      val (d, n) = Gen.documents(o.seed, next, CurateDeltaDocs, UttsPerEpisode)
      next = n
      save(s"delta$i.jsonl", d)
    }
    (base, deltas)
  }

  /** Spark's own first-job start-up (task threads, block manager,
    * code generator), paid in set-up: without it that one-off cost lands
    * in curate-apply's time and doubles its run-to-run spread. */
  private def sparkReady(spark: SparkSession): Unit = spark.range(1).count()

  private def read(spark: SparkSession, b: Batch) =
    spark.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING").json(b.path)

  final case class Cycle(applyS: Double, deltaS: Seq[Double], lakeBytes: Long, failures: Seq[String])

  /** curate-apply on a fresh lake, then every delta batch, each result
    * checked against the generator. */
  def cycle(spark: SparkSession, lake: String, apply: Batch, deltas: Seq[Batch],
      tr: Option[Tracer], heap: HeapWatch): Cycle = {
    val failures = mutable.ArrayBuffer.empty[String]
    def span[T](name: String)(f: => T): T = tr.fold(f)(_.span(name)(f))
    val (acc, applyS) = timed(span("pipeline.curate_apply") {
      CuratePipeline.run(spark, read(spark, apply), lake).collect()
    })
    heap.sample()
    // let Spark's ContextCleaner finish dropping the apply's shuffle files
    // and broadcasts (the collections above released them), so that work
    // does not land inside the delta's timing
    Thread.sleep(1000)
    checkApply(spark, lake, apply.docs.length.toLong, Gen.docProps(apply.docs).kept,
      acc.map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toSeq, failures, tr)
    val banked = mutable.HashSet.empty[String] ++ apply.docs.map(d => Gen.normText(d.text))
    val deltaS = deltas.zipWithIndex.map { case (b, i) =>
      val v0 = Layout.committedVersions(spark, lake, CuratePipeline.Frozen.NormBank).lastOption
      val (dacc, s) = timed(span("pipeline.curate_delta") {
        CuratePipeline.runIncremental(spark, read(spark, b), lake).collect()
      })
      heap.sample()
      val v1 = Layout.committedVersions(spark, lake, CuratePipeline.Frozen.NormBank).lastOption
      val exactKept = Gen.docProps(b.docs, banked).kept
      val stages = dacc.map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs")).toSeq
      if (!stages.toMap.get("exact").contains(exactKept))
        failures += s"delta $i exact survivors ${stages.toMap.get("exact")}, generator predicts $exactKept"
      checkMonotone(s"delta $i", stages, failures)
      if (!(v1.getOrElse(0) > v0.getOrElse(0))) failures += s"delta $i did not commit a norm-bank batch"
      banked ++= b.docs.map(d => Gen.normText(d.text))
      s
    }
    Cycle(applyS, deltaS, bytesUnder(new File(lake)), failures.toSeq)
  }

  def run(o: Opts, spark: SparkSession, sessionS: Double): Result = {
    val ((base, deltas), stageS) = timed { sparkReady(spark); stage(o) }
    val inputBytes = bytesUnder(new File(base.path)) + deltas.map(d => bytesUnder(new File(d.path))).sum
    val heap = new HeapWatch
    val c = cycle(spark, new File(o.work, "lake").getPath, base, deltas, None, heap)
    val peak = heap.peakMb
    val failures = mutable.ArrayBuffer.empty[String] ++= c.failures
    var attempted = 1L + c.deltaS.length
    val baseProps = Gen.docProps(base.docs)
    val deltaProps = Gen.docProps(deltas.head.docs, base.docs.map(d => Gen.normText(d.text)))
    val record = mutable.LinkedHashMap[String, Any](
      "input" -> Map("apply_docs" -> base.docs.length, "apply_episodes" -> baseProps.episodes,
        "apply_exact_dup_share" -> baseProps.exactDupShare, "apply_near_dup_share" -> baseProps.nearDupShare,
        "delta_docs" -> deltas.map(_.docs.length), "delta_exact_dup_share" -> deltaProps.exactDupShare,
        "delta_near_dup_share" -> deltaProps.nearDupShare, "input_bytes" -> inputBytes),
      "session_s" -> sessionS, "stage_s" -> stageS, "apply_s" -> c.applyS, "delta_s" -> c.deltaS)
    val metrics = if (!o.trace) Seq(
      "setup_s" -> (sessionS + stageS),
      "items_per_s" -> base.docs.length / c.applyS,
      "op_p50_ms" -> Report.median(c.deltaS) * 1000.0,
      "peak_heap_mb" -> peak,
      "lake_bytes_per_input_byte" -> lakeBytesRatio(c.lakeBytes, inputBytes))
    else {
      // the same cycle, cold and traced, in a fresh JVM
      val ch = child(o, Nil)
      attempted += 1L + c.deltaS.length
      failures ++= ch.path("failures").elements().asScala.map(_.asText)
      val raw = ledgerOf(ch) +
        ("trace.overhead_s" -> (ch.path("seconds").asDouble - (c.applyS + c.deltaS.sum)))
      record("ledger_raw") = raw
      record("spans") = Report.RawJson(ch.path("spans").toString)
      Ledger.metrics(raw)
    }
    Result(attempted, failures.length.toLong.min(attempted), failures.toSeq, metrics, record.toMap)
  }

  /** The traced cycle of a `--role child` JVM, over the parent's staged
    * documents. */
  def childMain(o: Opts, spark: SparkSession): Map[String, Any] = {
    sparkReady(spark)
    val (base, deltas) = stage(o)
    val tr = new Tracer(spark, cores)
    tr.attach()
    val c = cycle(spark, new File(o.work, "lake-traced").getPath, base, deltas, Some(tr), new HeapWatch)
    tr.detach()
    Map("seconds" -> (c.applyS + c.deltaS.sum), "failures" -> c.failures, "ledger" -> tr.ledger(), "spans" -> spanMaps(tr))
  }

  /** Survivor counts never increase through the keep stages; UniMax
    * resamples copies, so from `mixture` on the check is on distinct
    * documents, and sharding keeps every row. */
  def checkMonotone(what: String, acc: Seq[(String, Long)], failures: mutable.Buffer[String]): Unit = {
    val m = acc.toMap
    val keep = Seq("raw", "exact", "neardup", "quality", "decontam", "curriculum").flatMap(s => m.get(s))
    if (keep.length != 6 || keep.zip(keep.drop(1)).exists { case (a, b) => b > a })
      failures += s"$what: survivors increase across keep stages: $acc"
    if (m.get("shards") != m.get("mixture")) failures += s"$what: shards ${m.get("shards")} != mixture ${m.get("mixture")}"
  }

  def checkApply(spark: SparkSession, lake: String, raw: Long, exactKept: Long,
      acc: Seq[(String, Long)], failures: mutable.Buffer[String], tr: Option[Tracer]): Unit = {
    val m = acc.toMap
    if (!m.get("raw").contains(raw)) failures += s"apply raw ${m.get("raw")}, wrote $raw"
    if (!m.get("exact").contains(exactKept))
      failures += s"apply exact survivors ${m.get("exact")}, generator predicts $exactKept"
    checkMonotone("apply", acc, failures)
    val mixDocs = Layout.loadLatest(spark, lake, "curated/mixture").select("doc_id").distinct().count()
    if (mixDocs > m.getOrElse("curriculum", -1L))
      failures += s"apply: $mixDocs distinct documents after mixture, ${m.get("curriculum")} after curriculum"
    tr.foreach(t => Report.CurateStages.foreach(s =>
      t.add(s"pipeline.curate_apply.$s.survivors", m.getOrElse(s, 0L).toDouble)))
  }
}
