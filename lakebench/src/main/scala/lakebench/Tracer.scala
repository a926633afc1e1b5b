package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer ledger built from outside the engine.
  *
  * The benchmark opens a span around every call it makes into a layer.
  * A `SparkListener` and a `QueryExecutionListener` (both public Spark
  * APIs) record every job, stage, task and SQL execution. When the run
  * ends each job is attributed to the innermost span open at its
  * submission; inside a span that covers several layers (one CLI command,
  * one curation run) it is refined by the output directory of the write
  * it belongs to, or else by the first `graft.*` frame of its call site.
  * Spans and events stay in memory; [[ledger]] folds them once. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  // ---- spans (benchmark thread only) -------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.length, open.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), -1L)
    spans += s
    open = s :: open
    try body finally { s.endMs = System.currentTimeMillis(); open = open.tail }
  }

  /** Count measured by the benchmark itself at a layer boundary. */
  def add(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  // ---- listener state (listener-bus threads) -------------------------------
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageOfJob = mutable.HashMap.empty[Int, Int]
  private val stageAgg = mutable.HashMap.empty[Int, Agg]
  private val stagesDone = mutable.HashSet.empty[Int]
  private val execs = mutable.HashMap.empty[Long, Exec]
  private val writes = mutable.HashMap.empty[Long, Write]
  private val scanFiles = mutable.HashMap.empty[Long, Long]
  // What the QueryExecutionListener recorded for the execution whose end
  // event is being delivered. Its events come from the session's
  // ExecutionListenerBus, which sits on the same listener-bus queue ahead
  // of `listener` (attach registers it first), so the callback for an
  // execution's end always runs right before `listener` sees that end.
  // (`QueryExecution.id` is not the SQL execution id.)
  private var pending: Option[(Option[Write], Long)] = None
  @volatile private var sqlStarted = 0L
  @volatile private var sqlEnded = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, exec, site)
      e.stageIds.foreach(s => stageOfJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        val a = stageAgg.getOrElseUpdate(e.stageId, new Agg)
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.outRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stagesDone += e.stageInfo.stageId }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        execs(s.executionId) = Exec(s.rootExecutionId.getOrElse(s.executionId),
          s.time, -1L)
        sqlStarted += 1
      }
      case x: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execs.get(x.executionId).foreach(_.endMs = x.time)
        sqlEnded += 1
        // the QueryExecutionListener saw this same event just before
        pending.foreach { case (w, files) =>
          w.foreach(writes(x.executionId) = _)
          if (files > 0) scanFiles(x.executionId) = files
        }
        pending = None
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val plan = qe.executedPlan
      val ws = collect(plan) {
        case w: DataWritingCommandExec => w.cmd match {
          case c: InsertIntoHadoopFsRelationCommand =>
            def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
            Some(Write(c.outputPath.toString, m("numFiles"), m("taskCommitTime") + m("jobCommitTime")))
          case _ => None
        }
      }.flatten
      val files = collect(plan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized { pending = Some((ws.headOption, files)) }
    }
  }

  private var gc0 = 0L
  private var t0 = 0L

  def attach(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(listener)
    gc0 = gcMillis()
    t0 = System.currentTimeMillis()
  }

  /** Wait for the listener bus to deliver every pending event, then stop
    * listening. */
  def detach(): Unit = {
    val wallMs = System.currentTimeMillis() - t0
    val gcMs = gcMillis() - gc0
    val deadline = System.currentTimeMillis() + 20000L
    def settled = synchronized {
      sqlEnded >= sqlStarted && jobs.values.forall(_.endMs >= 0)
    }
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50); if (settled) stable += 1 else stable = 0
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    add("jvm.gc_s", gcMs / 1000.0)
    add("spark.wall_s", wallMs / 1000.0)
  }

  // ---- attribution ---------------------------------------------------------

  private def innermostSpan(ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(s => -s.startMs).headOption

  private def outputPathOf(j: Job): Option[String] = j.exec.flatMap { e =>
    val root = execs.get(e).map(_.root).getOrElse(e)
    writes.get(e).orElse(writes.get(root)).orElse(
      execs.collectFirst { case (id, x) if x.root == root && writes.contains(id) => writes(id) })
      .map(_.path)
  }

  private def firstGraftFrame(site: String): String =
    site.split("\n").map(_.trim).find(l => l.startsWith("graft.") &&
      !l.startsWith("graft.cli.")).getOrElse("")

  /** Layer of one job given the span it ran in. */
  private def layerOf(j: Job, s: Span): String = s.name match {
    case "cli.materialize" =>
      val byPath = outputPathOf(j).flatMap { p =>
        val leaf = p.stripSuffix("/").split('/').last
        leaf match {
          case "spans" => Some("segment.spans")
          case "beats" => Some("segment.beats")
          case "sections" => Some("segment.sections")
          case _ if p.contains("_embeddings") => Some("embed")
          case _ => None
        }
      }
      byPath.getOrElse {
        val f = firstGraftFrame(j.site)
        if (f.startsWith("graft.segment.Spans") || f.startsWith("graft.quality.Guardrails"))
          "segment.spans"
        else if (f.startsWith("graft.segment.Beats")) "segment.beats"
        else if (f.startsWith("graft.segment.Sections")) "segment.sections"
        else if (f.startsWith("graft.embed.")) "embed"
        else "cli.materialize"
      }
    case n @ ("pipeline.curate_apply" | "pipeline.curate_delta") =>
      outputPathOf(j).flatMap { p =>
        CurateLayers.collectFirst {
          case (dir, stage) if p.contains(s"/curated/$dir/") || p.endsWith(s"/curated/$dir") => s"$n.$stage"
        }
      }.getOrElse(n)
    case n => n
  }

  /** Fold the recorded spans and events into the per-layer metrics. */
  def ledger(): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def inc(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    val jobIntervals = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Long)]]
    val seenExec = mutable.HashMap.empty[String, mutable.Set[Long]]
    jobs.values.foreach { j =>
      innermostSpan(j.submitMs).foreach { s =>
        val layer = layerOf(j, s)
        val st = stageOfJob.collect { case (sid, jid) if jid == j.id => sid }.toSeq
        val aggs = st.flatMap(stageAgg.get)
        val taskMs = aggs.map(_.taskMs).sum
        inc(s"$layer.jobs", 1)
        inc(s"$layer.task_s", taskMs / 1000.0)
        inc(s"$layer.shuffle_bytes", aggs.map(_.shuffleBytes).sum.toDouble)
        inc(s"$layer.spill_bytes", aggs.map(_.spillBytes).sum.toDouble)
        inc(s"$layer.in_bytes", aggs.map(_.inBytes).sum.toDouble)
        inc(s"$layer.in_records", aggs.map(_.inRecords).sum.toDouble)
        inc(s"$layer.out_bytes", aggs.map(_.outBytes).sum.toDouble)
        inc(s"$layer.rows_out", aggs.map(_.outRecords).sum.toDouble)
        inc("spark.jobs", 1)
        inc("spark.stages", st.count(stagesDone).toDouble)
        inc("spark.task_s", taskMs / 1000.0)
        inc("spark.shuffle_bytes", aggs.map(_.shuffleBytes).sum.toDouble)
        inc("spark.spill_bytes", aggs.map(_.spillBytes).sum.toDouble)
        // a job's interval is its root SQL execution's when it has one
        // (planning is work of the layer too), else its own
        val iv = j.exec.flatMap(e => execs.get(e)).flatMap(x => execs.get(x.root))
          .filter(_.endMs >= 0).map(x => (x.startMs, x.endMs))
          .getOrElse((j.submitMs, math.max(j.endMs, j.submitMs)))
        if (layer != s.name) jobIntervals.getOrElseUpdate(s"${s.id}|$layer", mutable.ArrayBuffer.empty) += iv
        // file-writer commits: the engine's Layout / Merge / WriterLease
        val f = firstGraftFrame(j.site)
        if (f.startsWith("graft.ingest.Layout") || f.startsWith("graft.ingest.Merge") ||
            f.startsWith("graft.ingest.WriterLease")) {
          val execKey = j.exec.map(e => execs.get(e).map(_.root).getOrElse(e))
          val fresh = execKey.forall(k => seenExec.getOrElseUpdate("commit", mutable.Set.empty).add(k))
          inc("ingest.commit.jobs", 1)
          inc("ingest.commit.task_s", taskMs / 1000.0)
          if (fresh) {
            inc("ingest.commit.wall_s", (iv._2 - iv._1) / 1000.0)
            j.exec.foreach { e =>
              val root = execs.get(e).map(_.root).getOrElse(e)
              execs.collect { case (id, x) if x.root == root => id }
                .flatMap(writes.get).foreach { w =>
                  inc("ingest.commit.files_written", w.files.toDouble)
                  inc("ingest.commit.commit_s", w.commitMs / 1000.0)
                }
            }
          }
        }
        j.exec.foreach { e =>
          val root = execs.get(e).map(_.root).getOrElse(e)
          if (seenExec.getOrElseUpdate(layer, mutable.Set.empty).add(root))
            execs.collect { case (id, x) if x.root == root => id }.foreach { id =>
              scanFiles.get(id).foreach(n => inc(s"$layer.files_read", n.toDouble))
            }
        }
      }
    }
    // wall (self) time: a span's duration minus its child spans; the
    // sub-layers refined inside a span take the union of their jobs'
    // intervals out of it
    spans.foreach { s =>
      val dur = s.endMs - s.startMs
      val childMs = union(spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq)
      val subs = jobIntervals.collect { case (k, ivs) if k.startsWith(s"${s.id}|") =>
        k.drop(k.indexOf('|') + 1) -> ivs.map { case (a, b) =>
          (math.max(a, s.startMs), math.min(b, s.endMs)) }.toSeq }
      subs.foreach { case (layer, ivs) => inc(s"$layer.wall_s", union(ivs) / 1000.0) }
      val subMs = union(subs.values.flatten.toSeq)
      inc(s"${s.name}.wall_s", math.max(0L, dur - childMs - subMs) / 1000.0)
      inc(s"${s.name}.calls", 1)
      inc(s"${s.name}.span_s", dur / 1000.0)
    }
    counters.foreach { case (k, v) => inc(k, v) }
    inc("spark.cores", cores.toDouble)
    out.toMap
  }

  /** Raw spans, for the sidecar. */
  def spanRecords: Seq[Span] = spans.toSeq

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startMs: Long, var endMs: Long)
  final case class Job(id: Int, submitMs: Long, var endMs: Long, exec: Option[Long], site: String)
  final case class Exec(root: Long, startMs: Long, var endMs: Long)
  final case class Write(path: String, files: Long, commitMs: Long)
  final class Agg {
    var taskMs, shuffleBytes, spillBytes, inBytes, inRecords, outBytes, outRecords = 0L
  }

  /** Output directory under `curated/` → curation stage it belongs to:
    * the stage layers themselves, and the frozen parameters each stage
    * banks for the incremental path. */
  val CurateLayers: Seq[(String, String)] = Seq(
    "exact" -> "exact", "norm_bank" -> "exact",
    "neardup" -> "neardup", "neardup_index" -> "neardup",
    "quality" -> "quality",
    "decontam" -> "decontam", "bench_grams" -> "decontam",
    "curriculum" -> "curriculum", "curriculum_bounds" -> "curriculum",
    "mixture" -> "mixture", "unimax_alloc" -> "mixture",
    "shards" -> "shards")

  /** Total length of the union of closed intervals, in ms. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
