package lakebench

/** Metric catalogue, summary statistics and the JSON the benchmark
  * prints. The catalogue is the single source of metric names and units;
  * `BENCHMARK.json` must list the same ones (the self-test checks). */
object Report {

  final case class Metric(name: String, unit: String, better: String)

  /** End-to-end metrics: reported by every workload, never 0. */
  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("items_per_s", "1/s", "higher"),
    Metric("op_p50_ms", "ms", "lower"),
    Metric("peak_heap_mb", "MB", "lower"),
    Metric("lake_bytes_per_input_byte", "ratio", "lower"))

  private def common(layer: String): Seq[Metric] = Seq(
    Metric(s"$layer.wall_s", "s", "lower"),
    Metric(s"$layer.task_s", "s", "lower"),
    Metric(s"$layer.shuffle_bytes", "bytes", "lower"),
    Metric(s"$layer.jobs", "count", "lower"))

  val CurateStages: Seq[String] =
    Seq("exact", "neardup", "quality", "decontam", "curriculum", "mixture", "shards")

  /** Per-layer metrics of the traced run. Every traced run reports all of
    * them; a layer the workload never enters reads 0. */
  val PerLayer: Seq[Metric] =
    common("ingest") ++ Seq(
      Metric("ingest.utts_per_s", "1/s", "higher"),
      Metric("ingest.bytes_written", "bytes", "lower")) ++
    common("segment.spans") ++ Seq(Metric("segment.spans.core_util", "ratio", "higher")) ++
    common("segment.beats") ++ Seq(
      Metric("segment.beats.rows_out", "count", "higher"),
      Metric("segment.beats.beats_per_span", "ratio", "lower"),
      Metric("segment.beats.core_util", "ratio", "higher")) ++
    common("segment.sections") ++ Seq(Metric("segment.sections.core_util", "ratio", "higher")) ++
    common("embed") ++ Seq(Metric("embed.texts_per_s", "1/s", "higher")) ++
    common("cli.materialize") ++ Seq(
      Metric("cli.materialize.bytes_read_per_byte_written", "ratio", "lower")) ++
    common("catalogs") ++
    common("validation") ++ Seq(Metric("validation.checks", "count", "higher")) ++
    common("snapshot") ++ Seq(
      Metric("snapshot.files", "count", "lower"),
      Metric("snapshot.bytes_copied", "bytes", "lower")) ++
    common("quality") ++ Seq(
      Metric("quality.core_util", "ratio", "higher"),
      Metric("quality.spill_bytes", "bytes", "lower")) ++
    common("index.build") ++ Seq(Metric("index.build.vectors_per_s", "1/s", "higher")) ++
    Seq("index.ivf_search", "index.hnsw_search").flatMap(l => common(l) ++ Seq(
      Metric(s"$l.p50_ms", "ms", "lower"),
      Metric(s"$l.jobs_per_query", "count", "lower"),
      Metric(s"$l.rows_scanned_per_query", "count", "lower"),
      Metric(s"$l.recall_at_10", "ratio", "higher"))) ++
    common("lookup") ++ Seq(
      Metric("lookup.p50_ms", "ms", "lower"),
      Metric("lookup.files_read_per_lookup", "count", "lower"),
      Metric("lookup.bytes_read_per_lookup", "bytes", "lower")) ++
    CurateStages.flatMap(s => Seq(
      Metric(s"pipeline.curate_apply.$s.wall_s", "s", "lower"),
      Metric(s"pipeline.curate_apply.$s.shuffle_bytes", "bytes", "lower"),
      Metric(s"pipeline.curate_apply.$s.survivors", "count", "higher"))) ++
    // the rest of each run (its fused jobs, bank and index upkeep) stays
    // on the run's own span
    Seq("pipeline.curate_apply", "pipeline.curate_delta").map(l => Metric(s"$l.wall_s", "s", "lower")) ++
    Seq(Metric("pipeline.curate_delta.jobs", "count", "lower")) ++
    CurateStages.flatMap(s => Seq(Metric(s"pipeline.curate_delta.$s.wall_s", "s", "lower")) ++
      (if (Set("quality", "curriculum", "mixture")(s)) Nil
       else Seq(Metric(s"pipeline.curate_delta.$s.shuffle_bytes", "bytes", "lower")))) ++
    Seq(
      Metric("ingest.commit.wall_s", "s", "lower"),
      Metric("ingest.commit.files_written", "count", "lower"),
      Metric("ingest.commit.commit_s", "s", "lower"),
      Metric("spark.task_s", "s", "lower"),
      Metric("spark.shuffle_bytes", "bytes", "lower"),
      Metric("spark.jobs", "count", "lower"),
      Metric("spark.stages", "count", "lower"),
      Metric("spark.spill_bytes", "bytes", "lower"),
      Metric("spark.core_util", "ratio", "higher"),
      Metric("jvm.gc_s", "s", "lower"),
      Metric("trace.overhead_s", "s", "lower"))

  // ---- statistics ----------------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** 1-based nearest rank of percentile `p` among `n` samples (the
    * epsilon keeps 99.9 % of 10000 at rank 9990, not 9991). */
  def rank(p: Double, n: Int): Int =
    math.min(n, math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt))

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = xs.sorted.apply(rank(p, xs.length) - 1)

  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest percentile of the ladder that leaves at least ten
    * samples above its nearest-rank position, with its value. Below
    * twenty samples no percentile qualifies and the result is None. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    TailLadder.find(p => n - rank(p, n) >= 10).map(p => (p, percentile(xs, p)))
  }

  // ---- JSON ----------------------------------------------------------------

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Already-rendered JSON, embedded as is. */
  final case class RawJson(text: String)

  /** Render nested Maps/Seqs/strings/numbers/booleans as JSON. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case RawJson(t) => t
    case Some(x) => json(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${json(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
