package graft.quality

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Intervals, Stats}

/** Seven-category data-quality assessment engine with threshold-driven
  * RAG gating (reference: src/lakehouse/quality/assessor.py:467-843,
  * the metrics modules, thresholds.py:29-188).
  *
  * Each category is one aggregation or window pass over shared cached
  * inputs; metric values are collected (they're tiny) and threshold
  * evaluation + RAG stay driver-side, exactly like the reference's
  * `ThresholdViolation` flow.
  */
object Quality {

  /** Full threshold table, defaults mirroring reference
    * thresholds.py:29-90 (PRD-derived) including the embedding-sanity
    * thresholds (FR-25/27/31). */
  final case class Thresholds(
      coverageMin: Double = 95.0,
      gapMaxPercent: Double = 2.0,
      overlapMaxPercent: Double = 2.0,
      spanLengthMin: Double = 20.0,
      spanLengthMax: Double = 120.0,
      spanComplianceMin: Double = 90.0,
      beatLengthMin: Double = 60.0,
      beatLengthMax: Double = 180.0,
      beatComplianceMin: Double = 90.0,
      timestampRegressionsMax: Long = 0,
      negativeDurationMax: Long = 0,
      exactDuplicateMaxPercent: Double = 1.0,
      nearDuplicateMaxPercent: Double = 3.0,
      nearDuplicateThreshold: Double = 0.95,
      sameSpeakerNeighborMaxPercent: Double = 60.0,
      sameEpisodeNeighborMaxPercent: Double = 70.0,
      lengthBiasCorrelationMax: Double = 0.3,
      adjacencyBiasMaxPercent: Double = 40.0,
      adjacencyToleranceSeconds: Double = 5.0,
      neighborK: Int = 10,
      neighborSampleSize: Int = 100)

  /** thresholds.py:120-188 `from_dict`/`apply_overrides`: snake_case keys
    * (the reference's field names), unknown keys ignored. */
  def thresholdsFrom(overrides: Map[String, String],
      base: Thresholds = Thresholds()): Thresholds =
    overrides.foldLeft(base) { case (t, (k, v)) =>
      k.trim match {
        case "coverage_min"                      => t.copy(coverageMin = v.trim.toDouble)
        case "gap_max_percent"                   => t.copy(gapMaxPercent = v.trim.toDouble)
        case "overlap_max_percent"               => t.copy(overlapMaxPercent = v.trim.toDouble)
        case "span_length_min"                   => t.copy(spanLengthMin = v.trim.toDouble)
        case "span_length_max"                   => t.copy(spanLengthMax = v.trim.toDouble)
        case "span_length_compliance_min"        => t.copy(spanComplianceMin = v.trim.toDouble)
        case "beat_length_min"                   => t.copy(beatLengthMin = v.trim.toDouble)
        case "beat_length_max"                   => t.copy(beatLengthMax = v.trim.toDouble)
        case "beat_length_compliance_min"        => t.copy(beatComplianceMin = v.trim.toDouble)
        case "timestamp_regressions_max"         => t.copy(timestampRegressionsMax = v.trim.toLong)
        case "negative_duration_max"             => t.copy(negativeDurationMax = v.trim.toLong)
        case "exact_duplicate_max_percent"       => t.copy(exactDuplicateMaxPercent = v.trim.toDouble)
        case "near_duplicate_max_percent"        => t.copy(nearDuplicateMaxPercent = v.trim.toDouble)
        case "near_duplicate_threshold"          => t.copy(nearDuplicateThreshold = v.trim.toDouble)
        case "same_speaker_neighbor_max_percent" => t.copy(sameSpeakerNeighborMaxPercent = v.trim.toDouble)
        case "same_episode_neighbor_max_percent" => t.copy(sameEpisodeNeighborMaxPercent = v.trim.toDouble)
        case "length_bias_correlation_max"       => t.copy(lengthBiasCorrelationMax = v.trim.toDouble)
        case "adjacency_bias_max_percent"        => t.copy(adjacencyBiasMaxPercent = v.trim.toDouble)
        case "adjacency_tolerance_seconds"       => t.copy(adjacencyToleranceSeconds = v.trim.toDouble)
        case "neighbor_k"                        => t.copy(neighborK = v.trim.toInt)
        case "neighbor_sample_size"              => t.copy(neighborSampleSize = v.trim.toInt)
        case _                                   => t
      }
    }

  /** Load `key = value` threshold overrides from a config file, with C18
    * `${VAR}` env interpolation; '#' starts a comment. */
  def loadThresholds(path: String, base: Thresholds = Thresholds()): Thresholds =
    thresholdsFrom(graft.core.Config.loadKeyValues(path), base)

  final case class Violation(name: String, expected: String, actual: String, severity: String)

  final case class Assessment(
      metrics: Map[String, Double],
      violations: Seq[Violation],
      ragStatus: String,
      /** Wall seconds per category block of [[assess]] — populated so a
        * bench-level regression in the composite number is localizable to
        * the category that moved (r6 postmortem: the one-number phase hid
        * a 2.8× swing). */
      timings: Map[String, Double] = Map.empty,
      /** What the report shows beyond the metrics, computed by the same
        * passes; None for a hand-built assessment. */
      detail: Option[Detail] = None)

  /** Row counts, the A6 duration histograms (bin id → rows, empty bins
    * absent) and the per-episode coverage rows ([[EpisodeCoverageColumns]],
    * in the episodes frame's order) of one [[assess]] run, already on
    * the driver. */
  final case class Detail(episodes: Long, spans: Long, beats: Long,
      spanHistogram: Map[Int, Long], beatHistogram: Map[Int, Long],
      episodeCoverage: Seq[Row])

  val EpisodeCoverageColumns = Seq("episode_id", "episode_duration", "union_s", "coverage_pct")

  // ---- Category A: coverage (coverage.py:19-279) --------------------

  /** Per-episode coverage: union span time / episode duration. Episode
    * duration comes from utterance extents (episodes frame:
    * episode_id, episode_duration). */
  def coverage(segments: DataFrame, episodes: DataFrame): DataFrame =
    Intervals.unionDuration(
        segments.select(col("episode_id"), col("start_time"), col("end_time")),
        Seq("episode_id"), "start_time", "end_time", unionCol = "union_s")
      .join(episodes, "episode_id")
      .withColumn("coverage_pct", lit(100.0) * col("union_s") / col("episode_duration"))

  /** One segment table's silence and overlap seconds (summed per
    * episode, then over episodes) and its timestamp regressions (rows). */
  final case class Gaps(gapS: Double, overlapS: Double, regressions: Long)

  /** A9 gaps and A10 timestamp regressions of several segment tables
    * from ONE window pass: per table and episode, in (start, end) order,
    * `_gap` = start − previous end. A positive gap is silence, a
    * negative one an overlap, and a negative gap is exactly a regression
    * (previous end > next start). One result per table, in order. */
  def gaps(tables: Seq[DataFrame]): Seq[Gaps] = {
    val segments = tables.zipWithIndex.map { case (t, i) =>
      t.select(lit(i).as("_t"), col("episode_id"), col("start_time"), col("end_time"))
    }.reduce(_.unionByName(_))
    val byTable = Intervals.withGapFromPrev(segments, Seq("_t", "episode_id"),
        "start_time", "end_time")
      .filter(col("_gap").isNotNull)
      .groupBy("_t", "episode_id")
      .agg(
        sum(when(col("_gap") > 0, col("_gap")).otherwise(0.0)).as("total_gap_s"),
        sum(when(col("_gap") < 0, -col("_gap")).otherwise(0.0)).as("total_overlap_s"),
        count(when(col("_gap") < 0, 1)).as("regressions"))
      .groupBy("_t")
      .agg(
        sum(col("total_gap_s")).as("gap_s"),
        sum(col("total_overlap_s")).as("overlap_s"),
        sum(col("regressions")).as("regressions"))
      .collect().map(r => r.getInt(0) -> Gaps(r.getDouble(1), r.getDouble(2), r.getLong(3)))
      .toMap
    tables.indices.map(byTable.getOrElse(_, Gaps(0.0, 0.0, 0L)))
  }

  // ---- Category B: distribution (distribution.py) -------------------

  /** A6 fixed-edge histograms (span edges distribution.py:230; beat :231). */
  val SpanHistEdges = Seq(0.0, 20.0, 40.0, 60.0, 90.0, 120.0, 180.0)
  val BeatHistEdges = Seq(0.0, 60.0, 90.0, 120.0, 150.0, 180.0, 240.0)

  /** One segment table's single-row distribution metrics. */
  final case class Distribution(rows: Long, withinPct: Double, nonPositive: Long,
      histogram: Map[Int, Long])

  /** A5 + A6 in ONE aggregation: rows; % within [minLen, maxLen], forced
    * to two decimals like the reference (distribution.py:111-215); rows
    * with duration ≤ 0; and the fixed-edge histogram over `edges` (bin id
    * as [[Stats.binIndex]] → rows, empty bins absent). */
  def distribution(segments: DataFrame, minLen: Double, maxLen: Double,
      edges: Seq[Double]): Distribution = {
    val d = col("duration")
    val bin = Stats.binIndex(d, edges)
    val bins = -1 until edges.size
    val r = segments.agg(
      count(lit(1)).as("n"),
      (Seq(
        round(lit(100.0) * sum(when(d >= minLen && d <= maxLen, 1).otherwise(0))
          / count(lit(1)), 2).as("within_pct"),
        sum(when(d <= 0, 1L).otherwise(0L)).as("nonpositive")) ++
        bins.map(b => count(when(bin === b, 1)).as(s"bin_$b"))): _*).first()
    Distribution(r.getAs[Long]("n"), r.getAs[Double]("within_pct"),
      r.getAs[Long]("nonpositive"),
      bins.map(b => b -> r.getAs[Long](s"bin_$b")).filter(_._2 > 0).toMap)
  }

  // ---- Category C: integrity (integrity.py) -------------------------

  /** A12 exact duplicates: normalized text + 5-min bin composite key
    * (integrity.py:379-549); returns (dup_groups, dup_rows, pct). */
  def exactDuplicates(segments: DataFrame, minLen: Int = 10): DataFrame = {
    val keyed = segments
      .withColumn("_norm", TF.normalizeWs(col("text")))
      .filter(length(col("_norm")) >= minLen)
      .withColumn("_bin", floor(col("start_time") / 300).cast("int"))
    val groups = keyed.groupBy("_norm", "episode_id", "speaker", "_bin")
      .agg(count(lit(1)).as("n"))
    groups.agg(
      coalesce(sum(col("n")), lit(0L)).as("n_rows"),
      coalesce(sum(when(col("n") > 1, 1L).otherwise(0L)), lit(0L)).as("dup_groups"),
      coalesce(sum(when(col("n") > 1, col("n")).otherwise(0L)), lit(0L)).as("dup_rows"))
      .withColumn("dup_pct",
        when(col("n_rows") > 0, lit(100.0) * col("dup_rows") / col("n_rows")).otherwise(0.0))
  }

  /** A13 near-duplicates at scale: MinHash-LSH instead of the O(n²)
    * rapidfuzz pass the reference guards at 10k rows. Carries the
    * default band-bucket cap — a boilerplate-heavy span corpus flags
    * its degenerate signatures instead of scoring them quadratically
    * ([[Dedup.minhashBucketAudit]] for the accounting). */
  def nearDuplicates(segments: DataFrame, idCol: String, threshold: Double = 0.8): DataFrame =
    Dedup.minhashNearDups(segments.select(col(idCol), col("text")), idCol,
      col("text"), shingleWords = 2, k = 12, bands = 4, threshold = threshold,
      maxBucket = Dedup.DefaultMaxBucket)

  // ---- Category D: balance (balance.py) -----------------------------

  /** A14 speaker distribution with top-N + long-tail rollup. The corpus
    * total is a 1-row broadcast and the top-N a distributed
    * TakeOrderedAndProject — not a global window, which would sort every
    * speaker in one task; the tail is everything the top-N anti-joins
    * away. */
  def speakerBalance(segments: DataFrame, topN: Int): DataFrame = {
    val bySpeaker = segments.groupBy("speaker")
      .agg(count(lit(1)).as("n"), sum(col("duration")).as("total_s"))
    val totals = broadcast(bySpeaker.agg(sum(col("n")).as("_total")))
    val withPct = bySpeaker.crossJoin(totals)
      .withColumn("pct", lit(100.0) * col("n") / col("_total"))
    val top = withPct.orderBy(col("n").desc, col("speaker")).limit(topN)
      .select("speaker", "n", "total_s", "pct")
    // null-SAFE anti join: a NULL speaker group that makes the top-N
    // would never match a plain key equality and get double-counted
    // into the tail (pct > 100%)
    val topKeys = top.select(col("speaker").as("_top_speaker"))
    val tail = withPct.join(topKeys,
        col("speaker") <=> col("_top_speaker"), "left_anti")
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("total_s")), lit(0.0)).as("total_s"),
        coalesce(sum(col("pct")), lit(0.0)).as("pct"))
      .withColumn("speaker", lit("<other>"))
      .select("speaker", "n", "total_s", "pct")
    top.unionByName(tail).filter(col("n") > 0)
  }

  // ---- Assessment: thresholds + RAG (assessor.py:1040-1067) ---------

  /** Full assessment over spans/beats (+ optional embeddings for the
    * category-F checks).
    *
    * Scale shape: every category is one aggregation or window pass.
    * Spans are CACHED for the duration (the reference loads each table
    * once, assessor.py:260-385); the cache is filled by their first
    * pass, one aggregation for the row count, compliance, non-positive
    * durations and duration histogram. Beats take two passes, that
    * aggregation and the ordering window, so they stay uncached. The
    * episodes frame (one row per episode) is collected once: its count
    * and total duration are summed on the driver, and the coverage join
    * reads the local copy. The remaining categories then run
    * concurrently: ONE window pass over spans and beats together for
    * gaps, overlaps and regressions, the coverage union (its
    * per-episode rows collected once and averaged on the driver), exact
    * and near duplicates, and the embedding checks, which share one
    * sampled k-NN frame and one aggregation over it. The counts,
    * histograms and coverage rows come back in [[Assessment.detail]] for
    * the report. The cache is released before returning. */
  def assess(spans: DataFrame, beats: DataFrame, episodes: DataFrame,
      t: Thresholds = Thresholds(),
      embeddings: Option[DataFrame] = None): Assessment = {
    val spark = spans.sparkSession
    val m = scala.collection.mutable.Map[String, Double]()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      // categories now run concurrently — writes synchronized
      timings.synchronized { timings(name) = (System.nanoTime() - t0) / 1e9 }
      r
    }
    // the episodes frame is derived once: its count, total duration and
    // row order come from these rows, and the coverage join reads them
    val epRows = episodes.collect()
    val ep = spark.createDataFrame(epRows.toSeq.asJava, episodes.schema)
    val epDur = epRows.foldLeft(0.0)((s, r) => s + r.getAs[Double]("episode_duration"))
    val sp = spans.cache()
    try {
      // The spans' first pass fills their cache, sequentially, BEFORE the
      // fan-out so the concurrent first actions don't race to compute the
      // same cache blocks.
      val spanDist = timed("distribution") {
        distribution(sp, t.spanLengthMin, t.spanLengthMax, SpanHistEdges) }
      val beatDist = timed("beat_distribution") {
        distribution(beats, t.beatLengthMin, t.beatLengthMax, BeatHistEdges) }

      // The other categories are INDEPENDENT jobs over the cached spans
      // — run them from a small thread pool so the next
      // category's tasks back-fill executors freed by the current one's
      // stragglers (optimization guide §2.6: actions are only sequential
      // because driver code calls them sequentially). Each category's
      // own wall time is still recorded (now overlapping, so the
      // category map sums to MORE than the assessment wall — that is the
      // point). Parallelism 3: enough to overlap the long categories
      // (embedding/near_dup/coverage), not so many that they fight for
      // executor cores mid-stage.
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      def timedF[A](name: String)(body: => A): Future[A] = Future {
        sp.sparkSession.sparkContext.setJobDescription(s"quality: $name")
        timed(name)(body)
      }

      // Submission order = longest-first (LPT): with a bounded pool the
      // longest categories (embedding k-NN, near-dup minhash, coverage
      // union) must start immediately or they become the tail.
      // category F first: all checks share ONE sampled k-NN job. An empty
      // neighbor frame (embeddings whose artifact_ids don't match the
      // spans — stale file, wrong artifact type) must SKIP the embedding
      // checks, not NPE on null aggregates or record bogus 0.0 metrics.
      val embF = timedF("embedding") { embeddings.flatMap { e =>
        val neigh = EmbeddingSanity.sampledNeighbors(
          sp, e, "span_id", t.neighborK, t.neighborSampleSize)
        EmbeddingSanity.neighborStats(neigh, t.adjacencyToleranceSeconds)
      } }

      // near-duplicates via MinHash-LSH at the reference's 0.95 bar;
      // % of spans that appear in at least one near-dup pair
      val nearDupIdsF = timedF("near_dup") {
        nearDuplicates(sp, "span_id", t.nearDuplicateThreshold)
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .distinct().count() }

      // per-episode coverage rows, collected once: the report's
      // episodes.csv and the corpus mean (Spark's avg arithmetic: a
      // running sum over the rows in order, then one division)
      val covF = timedF("coverage") {
        coverage(sp, ep).select(EpisodeCoverageColumns.map(col): _*).collect() }

      // corpus-level gap/overlap % of total episode time, and the
      // regressions, from one window pass over both tables
      val gapsF = timedF("gaps") { gaps(Seq(sp, beats)) }

      // integrity per level, NOT concatenated (assessor.py:617-679 bug-fix note)
      val spanDupF = timedF("integrity") {
        exactDuplicates(sp).first().getAs[Double]("dup_pct") }

      def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)
      val (covRows, Seq(spanGaps, beatGaps), spanDup, nearDupIds, emb) =
        try (await(covF), await(gapsF), await(spanDupF), await(nearDupIdsF), await(embF))
        finally pool.shutdown()
      // the mean in the rows' join order; the report lists them in the
      // episodes frame's order
      val covered = covRows.flatMap(r => Option(r.getAs[java.lang.Double]("coverage_pct")))
      val cov = covered.foldLeft(0.0)(_ + _.doubleValue) / covered.length
      m("coverage_pct") = cov
      val gapPct = if (epDur > 0) 100.0 * spanGaps.gapS / epDur else 0.0
      val overlapPct = if (epDur > 0) 100.0 * spanGaps.overlapS / epDur else 0.0
      m("gap_pct") = gapPct
      m("overlap_pct") = overlapPct
      val nSpans = spanDist.rows
      val spanCompliance = spanDist.withinPct
      val negDur = spanDist.nonPositive
      val beatCompliance = beatDist.withinPct
      val spanRegr = spanGaps.regressions
      val beatRegr = beatGaps.regressions
      m("span_compliance_pct") = spanCompliance
      m("nonpositive_durations") = negDur.toDouble
      m("beat_compliance_pct") = beatCompliance
      m("span_regressions") = spanRegr.toDouble
      m("beat_regressions") = beatRegr.toDouble
      m("span_dup_pct") = spanDup
      val nearDupPct = if (nSpans > 0) 100.0 * nearDupIds / nSpans else 0.0
      m("near_dup_pct") = nearDupPct
      emb.foreach { e =>
        m("same_speaker_pct") = e.sameSpeakerPct
        m("same_episode_pct") = e.sameEpisodePct
        m("adjacency_bias_pct") = e.adjacencyBiasPct
        e.lengthBiasCorr.foreach(b => m("length_bias_corr") = b)
      }
      val epOrder = epRows.map(_.getAs[Any]("episode_id")).zipWithIndex.toMap
      val detail = Detail(epRows.length.toLong, nSpans, beatDist.rows,
        spanDist.histogram, beatDist.histogram,
        covRows.sortBy(r => epOrder.getOrElse(r.getAs[Any]("episode_id"), -1)).toSeq)

      val violations = Seq.newBuilder[Violation]
      def check(cond: Boolean, name: String, expected: String, actual: String,
          severity: String = "error"): Unit =
        if (!cond) violations += Violation(name, expected, actual, severity)

      check(cov >= t.coverageMin, "coverage_min", s">= ${t.coverageMin}", f"$cov%.2f")
      check(gapPct <= t.gapMaxPercent, "gap_max_percent",
        s"<= ${t.gapMaxPercent}", f"$gapPct%.2f", "warning")
      check(overlapPct <= t.overlapMaxPercent, "overlap_max_percent",
        s"<= ${t.overlapMaxPercent}", f"$overlapPct%.2f", "warning")
      check(spanCompliance >= t.spanComplianceMin, "span_length_compliance",
        s">= ${t.spanComplianceMin}", f"$spanCompliance%.2f", "warning")
      check(beatCompliance >= t.beatComplianceMin, "beat_length_compliance",
        s">= ${t.beatComplianceMin}", f"$beatCompliance%.2f", "warning")
      check(spanRegr <= t.timestampRegressionsMax, "timestamp_regressions",
        s"<= ${t.timestampRegressionsMax}", spanRegr.toString)
      check(beatRegr <= t.timestampRegressionsMax, "beat_timestamp_regressions",
        s"<= ${t.timestampRegressionsMax}", beatRegr.toString)
      check(negDur <= t.negativeDurationMax, "negative_durations",
        s"<= ${t.negativeDurationMax}", negDur.toString)
      check(spanDup <= t.exactDuplicateMaxPercent, "exact_duplicate_pct",
        s"<= ${t.exactDuplicateMaxPercent}", f"$spanDup%.2f")
      check(nearDupPct <= t.nearDuplicateMaxPercent, "near_duplicate_pct",
        s"<= ${t.nearDuplicateMaxPercent}", f"$nearDupPct%.2f", "warning")
      emb.foreach { e =>
        val (spk, ep, adj) = (e.sameSpeakerPct, e.sameEpisodePct, e.adjacencyBiasPct)
        check(spk <= t.sameSpeakerNeighborMaxPercent, "same_speaker_neighbor_pct",
          s"<= ${t.sameSpeakerNeighborMaxPercent}", f"$spk%.2f", "warning")
        check(ep <= t.sameEpisodeNeighborMaxPercent, "same_episode_neighbor_pct",
          s"<= ${t.sameEpisodeNeighborMaxPercent}", f"$ep%.2f", "warning")
        check(adj <= t.adjacencyBiasMaxPercent, "adjacency_bias_pct",
          s"<= ${t.adjacencyBiasMaxPercent}", f"$adj%.2f", "warning")
        e.lengthBiasCorr.foreach(b =>
          check(math.abs(b) <= t.lengthBiasCorrelationMax, "length_bias_correlation",
            s"|corr| <= ${t.lengthBiasCorrelationMax}", f"$b%.4f", "warning"))
      }

      val vs = violations.result()
      // reporter.py:217-260: any error → RED; >2 warnings → RED;
      // 1-2 warnings → AMBER; else GREEN
      val nWarnings = vs.count(_.severity == "warning")
      val rag =
        if (vs.exists(_.severity == "error") || nWarnings > 2) "RED"
        else if (nWarnings > 0) "AMBER"
        else "GREEN"
      Assessment(m.toMap, vs, rag, timings.toMap, Some(detail))
    } finally {
      sp.unpersist()
    }
  }

  /** Markdown report (reporter.py:113-160 shape). */
  def renderMarkdown(a: Assessment): String = {
    val sb = new StringBuilder
    sb.append(s"# Quality Assessment\n\n**Status: ${a.ragStatus}**\n\n## Metrics\n\n")
    sb.append("| metric | value |\n|---|---|\n")
    a.metrics.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append(f"| $k | $v%.4f |\n")
    }
    sb.append("\n## Violations\n\n")
    if (a.violations.isEmpty) sb.append("None.\n")
    else {
      sb.append("| check | expected | actual | severity |\n|---|---|---|---|\n")
      a.violations.foreach { v =>
        sb.append(s"| ${v.name} | ${v.expected} | ${v.actual} | ${v.severity} |\n")
      }
    }
    sb.toString
  }
}
