package lakebench

/** Derive the catalogue's per-layer metrics from the raw ledger a
  * [[Tracer]] folds (sums per layer, plus the benchmark's own counts). */
object Ledger {
  def metrics(raw: Map[String, Double]): Seq[(String, Double)] = {
    def g(k: String): Double = raw.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    val cores = math.max(1.0, g("spark.cores"))
    def util(l: String) = ratio(g(s"$l.task_s"), g(s"$l.wall_s") * cores)
    val materialize = Seq("cli.materialize", "segment.spans", "segment.beats",
      "segment.sections", "embed")
    val derived = Map(
      "ingest.utts_per_s" -> ratio(g("ingest.utterances"), g("ingest.wall_s")),
      "ingest.bytes_written" -> g("ingest.out_bytes"),
      "segment.spans.core_util" -> util("segment.spans"),
      "segment.beats.beats_per_span" -> ratio(g("segment.beats.rows_out"), g("segment.spans.rows_out")),
      "segment.beats.core_util" -> util("segment.beats"),
      "segment.sections.core_util" -> util("segment.sections"),
      "embed.texts_per_s" -> ratio(g("embed.rows_out"), g("embed.wall_s")),
      "cli.materialize.bytes_read_per_byte_written" ->
        ratio(materialize.map(l => g(s"$l.in_bytes")).sum, materialize.map(l => g(s"$l.out_bytes")).sum),
      "quality.core_util" -> util("quality"),
      "index.build.vectors_per_s" -> ratio(g("index.build.vectors"), g("index.build.wall_s")),
      "lookup.files_read_per_lookup" -> ratio(g("lookup.files_read"), g("lookup.calls")),
      "lookup.bytes_read_per_lookup" -> ratio(g("lookup.in_bytes"), g("lookup.calls")),
      "spark.core_util" -> ratio(g("spark.task_s"), g("spark.wall_s") * cores)) ++
      Seq("index.ivf_search", "index.hnsw_search").flatMap(l => Seq(
        s"$l.jobs_per_query" -> ratio(g(s"$l.jobs"), g(s"$l.calls")),
        s"$l.rows_scanned_per_query" -> ratio(g(s"$l.in_records"), g(s"$l.calls"))))
    Report.PerLayer.map(m => m.name -> derived.getOrElse(m.name, g(m.name)))
  }
}
