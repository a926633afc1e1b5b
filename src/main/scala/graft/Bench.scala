package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Json
import graft.queries.{Query, Registry}

/** Benchmark main: runs every query at SPARK_GRAFT_SF_DIR plus three
  * throughput phases (ingest, ANN, quality-assess), printing ONE JSON
  * line with per-query wall seconds and per-phase rates comparable to
  * BASELINE.md.
  *
  * Each phase and the query suite run in their OWN forked JVM: round-3
  * measurements showed that sharing a JVM pollutes whichever side runs
  * second — post-suite heap pressure degraded one-shot phases up to 7×,
  * and phases-first degraded the 48-query suite +56% (old-gen pressure,
  * cached blocks, leftover temp functions). Process isolation fixes both
  * directions at the cost of three extra Spark startups. The orchestrator
  * itself never creates a SparkSession.
  */
object Bench {

  private val Marker = "GRAFT_BENCH_JSON:"

  /** Streaming micro-bench (N1/N-family): a generated event corpus
    * replayed as a file stream under `Trigger.AvailableNow` (deterministic,
    * unlike the wall-clock `rate` source), split into multiple
    * micro-batches via `maxFilesPerTrigger` so state genuinely crosses
    * batch boundaries. Two queries, timed separately:
    *
    *   - sessionize: watermark → `flatMapGroupsWithState` gap sessions
    *     ([[graft.streaming.StreamingSessionize]]) — keyed custom state,
    *     O(1) per active user;
    *   - window: watermark → event-time windowed agg
    *     ([[graft.streaming.StreamingIngest.windowedCounts]]).
    *
    * State numbers come from the final progress's stateOperators — the
    * live size of the keyed store, the quantity that must stay bounded
    * on an unbounded stream. Latency comes from the same progress
    * stream: p50/p95 of per-batch `batchDuration` (trigger-to-commit)
    * over the sessionize query's batches, plus the end-of-run watermark
    * lag (global max event time − final watermark ≈ the configured
    * 2-hour horizon + one batch's worth of event time: the watermark
    * can only trail by its delay plus batch granularity). */
  final case class StreamStats(rows: Long, sessionizeSec: Double,
      sessions: Long, stateRows: Long, stateBytes: Long,
      batchMsP50: Long, batchMsP95: Long, watermarkLagMs: Long,
      windowSec: Double)

  def streamingThroughput(spark: SparkSession, nRows: Long,
      nUsers: Int): StreamStats = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_stream")
    val inDir = tmp.resolve("in").toString
    // per user: one event/minute, a >30min gap every 20 events => dense,
    // deterministic session structure (nRows/20 expected sessions)
    val base = lit(1700000000L)
    spark.range(nRows).select(
        (col("id") % nUsers).as("user_id"),
        timestamp_seconds(base + floor(col("id") / nUsers) * 60
          + floor(col("id") / nUsers / 20) * 3600).as("ts"),
        concat(lit("type_"), col("id") % 5).as("event_type"),
        (col("id") % 97).cast("double").as("value"))
      // range-partition on event time so part-file k = k-th time slice …
      .repartitionByRange(32, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    // … and stamp ascending mtimes in part order: FileStreamSource picks
    // files by modification time, and the writer gives every part the
    // SAME mtime — left alone, batch 0 can grab slices from across the
    // whole timeline, the watermark jumps to max-2h, and every later
    // batch is 100% watermark-late (measured: ¾ of input dropped)
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(inPath).filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName).zipWithIndex.foreach { case (st, i) =>
        fs.setTimes(st.getPath, 1000000000000L + i * 60000L, -1)
      }
    val schema = spark.read.parquet(inDir).schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 8).parquet(inDir)
    val sessions = new java.util.concurrent.atomic.LongAdder
    def runQuery(df: org.apache.spark.sql.DataFrame,
        count: Boolean): (Double, Long, Long, Array[Long], Long) = {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_bench_ckpt").toString
      val t0 = System.nanoTime()
      val q = df.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count(); if (count) sessions.add(n); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress
      val st = progress.flatMap(_.stateOperators)
      val rows = if (st.isEmpty) 0L else st.map(_.numRowsTotal).max
      val bytes = if (st.isEmpty) 0L else st.map(_.memoryUsedBytes).max
      // trigger-to-commit latency per micro-batch, and the end-of-run
      // watermark lag (global max event time across batches minus the
      // final batch's watermark) — both straight off the progress stream
      val durations = progress.filter(_.numInputRows > 0).map(_.batchDuration)
      def ts(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
          key: String): Option[Long] =
        Option(p.eventTime.get(key)).map(java.time.Instant.parse(_).toEpochMilli)
      val maxEvent = progress.flatMap(ts(_, "max")).maxOption
      val finalWm = progress.reverse.iterator.flatMap(ts(_, "watermark")).nextOption()
      val wmLag = (maxEvent, finalWm) match {
        case (Some(m), Some(w)) => m - w
        case _ => -1L
      }
      (sec, rows, bytes, durations, wmLag)
    }
    import spark.implicits._
    val sess = graft.streaming.StreamingSessionize.sessions(
      stream.withWatermark("ts", "2 hours")
        .as[graft.streaming.StreamingSessionize.Event],
      gapMs = 30L * 60 * 1000).toDF()
    val (sSec, stRows, stBytes, durations, wmLag) = runQuery(sess, count = true)
    val win = graft.streaming.StreamingIngest.windowedCounts(
      stream, "ts", "5 minutes", "2 hours")
    val (wSec, _, _, _, _) = runQuery(win, count = false)
    val sorted = durations.sorted
    def pct(p: Double): Long =
      if (sorted.isEmpty) -1L else sorted(math.min(sorted.length - 1, (p * sorted.length).toInt))
    StreamStats(nRows, sSec, sessions.sum(), stRows, stBytes,
      pct(0.5), pct(0.95), wmLag, wSec)
  }

  /** X110 streaming near-dup throughput: a document stream with 5k
    * planted exact-twin pairs (doc i and doc i+100000 share text for
    * i < 5000; every other doc's 12-token set is unique) replayed
    * through [[graft.streaming.StreamingNearDup.streamingNearDups]].
    * Reports input docs/s, emitted pair rows (one per shared band —
    * the sink dedups), and the bucket-state footprint. The planted
    * count makes the number self-checking: 3 bands × 5k twins ⇒
    * 15k pair rows, anything else means the stream dropped or
    * double-emitted. */
  final case class NearDupStreamStats(docs: Long, sec: Double,
      pairRows: Long, stateRows: Long, stateBytes: Long,
      truncatedDocs: Long, estimatedPairs: Long, uncappedStateBytes: Long)

  /** Streaming near-dup throughput over a planted-dup corpus that now
    * includes a ~1% LONG-doc mix (4,500 distinct-token docs, > 4× the
    * 1,024-hash KMV payload cap) so the cap's state saving and the
    * estimated-pair path are ON the record (VERDICT r10, What's-wrong
    * #2): the phase runs twice on the same corpus — capped (production)
    * and uncapped — and reports both state_bytes plus the count of
    * `exact = false` pairs the KMV estimator scored. */
  def streamingNearDupThroughput(spark: SparkSession,
      nDocs: Long): NearDupStreamStats = {
    import org.apache.spark.sql.streaming.Trigger
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_nd")
    val inDir = tmp.resolve("in").toString
    val eff = when(col("id").between(100000L, 104999L), col("id") - 100000L)
      .otherwise(col("id"))
    // token windows [13·eff, 13·eff+11] stride 13 > width 12 ⇒ no two
    // distinct effs share a bigram (no modulus — a wrap would overlap
    // windows p/13 apart in 9 consecutive tokens, jac 8/14 ≥ 0.5, and
    // silently inflate the planted pair count ~4×; measured)
    val txt = concat_ws(" ",
      (0 until 12).map(i => format_string("w%d", eff * 13 + i)): _*)
    // long-doc mix: every 100th doc carries 4,500 DISTINCT tokens keyed
    // by eff, so planted long twins (eff equal, both id%100==99) still
    // pair up — their stored sketches truncate to the bottom-1024 KMV
    // prefix and the pair downgrades to the estimator (identical sets ⇒
    // identical prefixes ⇒ estimate exactly 1.0, exact=false)
    val isLong = pmod(col("id"), lit(100)) === 99
    val longTxt = concat_ws(" ", transform(sequence(lit(0), lit(4499)),
      j => format_string("x%d_%d", eff, j)))
    spark.range(nDocs).select(
        col("id").as("doc_id"),
        timestamp_seconds(lit(1700000000L) + floor(col("id") / 1000)).as("ts"),
        when(isLong, longTxt).otherwise(txt).as("text"))
      .repartitionByRange(32, col("ts"))
      .write.mode("overwrite").parquet(inDir)
    // ascending mtimes in part order (same FileStreamSource discipline
    // as streamingThroughput: the writer stamps every part identically)
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(inPath).filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName).zipWithIndex.foreach { case (st, i) =>
        fs.setTimes(st.getPath, 1000000000000L + i * 60000L, -1)
      }
    val schema = spark.read.parquet(inDir).schema
    def runOnce(maxStored: Int): (Double, Long, Long, Long, Long) = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8).parquet(inDir)
      val pairs = graft.streaming.StreamingNearDup.streamingNearDups(
        stream, "doc_id", col("text"), "ts", delayMs = 600000L,
        shingleWords = 2, k = 12, bands = 3, threshold = 0.5,
        maxStoredHashes = maxStored)
      val emitted = new java.util.concurrent.atomic.LongAdder
      val estimated = new java.util.concurrent.atomic.LongAdder
      val ckpt = java.nio.file.Files.createTempDirectory("graft_bench_nd_ckpt").toString
      val t0 = System.nanoTime()
      val q = pairs.toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val c = b.cache()
          try {
            emitted.add(c.count())
            estimated.add(c.filter(!col("exact")).count())
          } finally { c.unpersist(); () }
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val st = q.recentProgress.flatMap(_.stateOperators)
      (sec, emitted.sum(), estimated.sum(),
        if (st.isEmpty) 0L else st.map(_.numRowsTotal).max,
        if (st.isEmpty) 0L else st.map(_.memoryUsedBytes).max)
    }
    // capped (production) run is the timed one; the uncapped control run
    // exists only for its state_bytes — same corpus, so the delta IS the
    // payload cap's saving
    val (sec, pairRows, estPairs, stateRows, stateBytes) =
      runOnce(graft.streaming.StreamingNearDup.DefaultMaxStoredHashes)
    val (_, _, _, _, uncappedBytes) = runOnce(Int.MaxValue)
    val truncated = spark.read.parquet(inDir)
      .filter(size(graft.expressions.TextExprs.distinct_word_ngrams(
        graft.functions.TextFunctions.tokens(col("text")), 2)) >
        graft.streaming.StreamingNearDup.DefaultMaxStoredHashes)
      .count()
    NearDupStreamStats(nDocs, sec, pairRows, stateRows, stateBytes,
      truncated, estPairs, uncappedBytes)
  }

  /** read → validate → normalize → partitioned-write over a synthetic
    * JSONL corpus; returns (rows, seconds). */
  def ingestThroughput(spark: SparkSession, nRows: Long, nEpisodes: Int): (Long, Double) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_bench_ingest")
    val inDir = tmp.resolve("in").toString
    val outDir = tmp.resolve("out").toString
    val src = spark.range(nRows).select(
      format_string("EP%03d", col("id") % nEpisodes).as("episode_id"),
      (floor(col("id") / nEpisodes) * 2.0).as("start"),
      (floor(col("id") / nEpisodes) * 2.0 + 1.9).as("end"),
      format_string("Speaker %d", col("id") % 7).as("speaker"),
      concat(lit("utterance text number "), col("id"),
        lit(" with a handful of plausible words attached")).as("text"))
    src.select(to_json(struct(col("episode_id"), col("start"), col("end"),
        col("speaker"), col("text"))).as("value"))
      .write.mode("overwrite").text(inDir)
    // rename .txt part files to .jsonl for the glob
    val p = new org.apache.hadoop.fs.Path(inDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.getPath.getName.startsWith("part-")).foreach { st =>
      fs.rename(st.getPath, new org.apache.hadoop.fs.Path(p, st.getPath.getName + ".jsonl"))
    }
    val t0 = System.nanoTime()
    val (norm, errors) = graft.ingest.Ingest.ingestDirectory(spark, inDir)
    graft.ingest.Ingest.writeNormalized(norm, outDir)
    val nErr = errors.count()
    val dt = (System.nanoTime() - t0) / 1e9
    require(nErr == 0, s"bench corpus produced $nErr validation errors")
    (nRows, dt)
  }

  /** IVF index build + bulk search over a synthesized vector corpus
    * (50k × 64-dim — the sf embeddings table is too small to amortize
    * fixed job overhead); comparable to BASELINE.md's ~10k vectors/s
    * FAISS build and <10 ms top-10 search (ours is bulk-batch: report
    * amortized queries/s). */
  def annThroughput(spark: SparkSession, nVec: Long = 50000L,
      dim: Int = 64): (Long, Double, Long, Double) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_ann").toString + "/ivf"
    val emb = spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (pmod(xxhash64(col("id") * dim + i), lit(1000)).cast("double") / 500.0 - 1.0)
          .cast("float")).as("embedding"))
      // eager: the corpus must EXIST before the build is timed (the
      // baseline's FAISS number doesn't include generating the vectors)
      .localCheckpoint(true)
    // same methodology as the search below and the query suite: one
    // untimed warmup build (Catalyst analysis + codegen JIT of the
    // build plan shapes — ~3.5 s of the ~4.8 s cold time in a cold vs
    // warm build A/B), then time a full fresh build. Steady-state
    // is what the baseline measures too: FAISS's C++ is compiled ahead
    // of time, so its build numbers never include compiler warmup.
    val warmDir = java.nio.file.Files.createTempDirectory("graft_bench_annw").toString + "/ivf"
    graft.index.VectorIndex.build(emb, "vec_id", "embedding", nCells = 32, warmDir)
    val t0 = System.nanoTime()
    graft.index.VectorIndex.build(emb, "vec_id", "embedding", nCells = 32, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val queries = emb.limit(200).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
    // same methodology as the query suite: one warmup pass (Catalyst
    // analysis + codegen JIT for the search plan shape), then the min of
    // two measured passes — steady-state serving throughput, which is
    // what the baseline's warm in-process FAISS number measures too
    def searchOnce(): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.VectorIndex.search(spark, dir, queries, k = 10, nProbe = 4).count()
      require(got > 0, "ann search returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    searchOnce()
    val searchSec = math.min(searchOnce(), searchOnce())
    (nVec, buildSec, 200L, searchSec)
  }

  /** The clustered ANN corpus every pruned index phase serves from:
    * `nVec` float vectors of `dim` components, each its cluster's center
    * (cluster `id % nCells`) plus 50% per-vector noise, both hashed with
    * `xxhash64`, so every run builds the same corpus. IVF's recall
    * contract assumes clusterable data (real embedding corpora are); on
    * UNIFORM random vectors a query's true neighbors scatter across
    * cells and no coarse quantizer can prune — measured recall@10 was
    * 0.30 there, vs this shape where pruned probing is exercised the
    * way production embeddings exercise it. Checkpointed eagerly: the
    * corpus must exist before a build is timed. */
  def clusteredCorpus(spark: SparkSession, nVec: Long, dim: Int,
      nCells: Int): DataFrame = {
    val cluster = col("id") % nCells
    def u(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      pmod(xxhash64(seed * dim + i), lit(1000)).cast("double") / 500.0 - 1.0
    spark.range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        i => (u(cluster, i) + u(col("id") + 7919L * nVec, i) * 0.5)
          .cast("float")).as("embedding"))
      .localCheckpoint(true)
  }

  /** Production ANN configuration: pruned probe (nProbe << nCells), the
    * path a user actually serves from — q56's oracle run deliberately
    * probes every cell so it can be hash-compared to brute force, which
    * makes it the SLOWEST configuration; this phase times the fast one
    * and reports recall@k against exact brute-force cosine so the
    * speed/recall trade is on the record (the same trade FAISS exposes
    * via efSearch — reference faiss_builder.py:50-53). */
  def annPrunedThroughput(spark: SparkSession, nVec: Long = 50000L,
      dim: Int = 64, nCells: Int = 64, nProbe: Int = 4,
      k: Int = 10): (Double, Double, Double) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_annp").toString + "/ivf"
    val emb = clusteredCorpus(spark, nVec, dim, nCells)
    graft.index.VectorIndex.build(emb, "vec_id", "embedding", nCells, dir)
    val queries = emb.limit(200).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
      .localCheckpoint(true)
    def searchOnce(probes: Int): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.VectorIndex.search(spark, dir, queries, k, probes).count()
      require(got > 0, "pruned ann search returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    searchOnce(nProbe) // warmup: codegen + centroid read
    val searchSec = math.min(searchOnce(nProbe), searchOnce(nProbe))
    val qps = 200.0 / searchSec
    // the honest crossover datapoint: EXHAUSTIVE probing (nProbe =
    // nCells, i.e. brute force through the same index) on the same
    // corpus and same warmed plan — the pruned path must beat this or
    // it isn't a fast path (r6 finding: it lost to a smaller-corpus
    // phase number and nothing on the record separated fixed cost from
    // probe work)
    searchOnce(nCells)
    val exhaustiveQps = 200.0 / math.min(searchOnce(nCells), searchOnce(nCells))
    // recall@k vs exact brute force over the same corpus — measured once,
    // outside the timed window
    val approx = graft.index.VectorIndex.search(spark, dir, queries, k, nProbe)
      .select("query_id", "neighbor_id")
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(queries, corpus, k)
      .select("query_id", "neighbor_id")
    val denom = exact.count()
    val hits = approx.join(exact, Seq("query_id", "neighbor_id")).count()
    (qps, hits.toDouble / denom, exhaustiveQps)
  }

  /** X130 PRODUCT delta path (r12 verdict #2): what a user of
    * `curate-delta` actually pays per batch against a PERSISTED lake —
    * frozen layers loaded from storage, never re-derived. q123 keeps
    * measuring the oracle CONTRACT (which re-derives the full side's
    * frozen parameters inside the one query); this phase is the first
    * official record of the product cost. Setup (untimed): a full
    * [[graft.pipeline.CuratePipeline.run]] over 80% of the sf
    * documents. One warmup delta batch pays Catalyst analysis + JIT;
    * the measured batch times [[graft.pipeline.CuratePipeline
    * .runIncremental]] end-to-end including its layer merges and the
    * per-batch accounting collect. */
  def curateDeltaThroughput(spark: SparkSession, sfDir: String)
      : (Long, Double, Long, Double) = {
    import graft.pipeline.CuratePipeline
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    val base = java.nio.file.Files.createTempDirectory("graft_bench_lake").toString
    CuratePipeline.run(spark, docs.filter(pmod(col("doc_id"), lit(10)) < 8), base)
    def delta(k: Int) = docs.filter(pmod(col("doc_id"), lit(10)) === k)
    CuratePipeline.runIncremental(spark, delta(8), base).collect() // warmup
    val measured = delta(9).localCheckpoint(true)
    val nRows = measured.count()
    val t0 = System.nanoTime()
    val acc = CuratePipeline.runIncremental(spark, measured, base).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    require(acc.nonEmpty && nRows > 0, "curate_delta produced no accounting")
    // amortized datapoint (r15 verdict #8, carried from r14 #6): a
    // 10x-bigger batch against the SAME lake, so the per-batch fixed
    // frame costs (checkpoint jobs, merges, probes) amortize on the
    // record. The sf table is only ~10 batches deep, so the big batch is
    // synthesized: every doc re-identified out of the banked id space and
    // text-perturbed so it survives the exact stage like fresh data
    // (an untouched copy would die at the banked-norm anti-join and
    // measure nothing but the probe).
    val big = docs.select(
      (col("doc_id") + 10000000L).as("doc_id"),
      concat(col("text"), lit(" u"), col("doc_id")).as("text"),
      col("lang"), col("source")).localCheckpoint(true)
    val nBig = big.count()
    val t1 = System.nanoTime()
    val accBig = CuratePipeline.runIncremental(spark, big, base).collect()
    val bigSec = (System.nanoTime() - t1) / 1e9
    require(accBig.nonEmpty && nBig > 0, "curate_delta big batch produced no accounting")
    (nRows, sec, nBig, bigSec)
  }

  /** X131 graph-ANN serving configuration on the SAME clustered corpus
    * shape as [[annPrunedThroughput]], so its qps/recall rows are
    * directly comparable with the IVF cell-scan numbers: build the
    * per-cell HNSW index (one grouped in-memory pass per cell), then
    * time warm RESIDENT serving — the loaded graph dataset stays
    * persisted across batches (the serving pattern; IVF's number
    * re-reads the pruned parquet per batch) — and measure recall@k
    * against exact brute force outside the timed window. */
  def hnswThroughput(spark: SparkSession, nVec: Long = 50000L,
      dim: Int = 64, nCells: Int = 64, nProbe: Int = 4, efSearch: Int = 64,
      k: Int = 10): (Long, Double, Double, Double) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_hnsw").toString + "/hnsw"
    val emb = clusteredCorpus(spark, nVec, dim, nCells)
    // warmup build (codegen of the assign plan + JIT of the in-cell
    // builder), then the timed fresh build — same methodology as ann
    val warmDir = java.nio.file.Files.createTempDirectory("graft_bench_hnsww").toString + "/hnsw"
    graft.index.HnswIndex.build(emb, "vec_id", "embedding", nCells, warmDir)
    val t0 = System.nanoTime()
    graft.index.HnswIndex.build(emb, "vec_id", "embedding", nCells, dir)
    val buildSec = (System.nanoTime() - t0) / 1e9
    val queries = emb.limit(200).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
      .localCheckpoint(true)
    def searchOnce(): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.HnswIndex.search(
        spark, dir, queries, k, efSearch, nProbe).count()
      require(got > 0, "hnsw search returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    searchOnce() // warmup: codegen + graph residency (the persisted graph)
    val qps = 200.0 / math.min(searchOnce(), searchOnce())
    val approx = graft.index.HnswIndex.search(
      spark, dir, queries, k, efSearch, nProbe)
      .select("query_id", "neighbor_id")
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(queries, corpus, k)
      .select("query_id", "neighbor_id")
    val denom = exact.count()
    val hits = approx.join(exact, Seq("query_id", "neighbor_id")).count()
    graft.index.HnswIndex.evict(dir)
    // nVec returned so the phase JSON's rate uses the ACTUAL corpus
    // size, not a hardcoded echo of this function's default
    (nVec, buildSec, qps, hits.toDouble / denom)
  }

  /** PQ-coded graph serving on the same corpus shape: beam on m-byte
    * resident codes, exact rerank from the on-disk int8 store. Returns
    * (qps, recall, residentBytesPerVec) — the bytes number is the
    * resident serving footprint (m codes + 8-byte norm), vs 8·dim for
    * the float/int8 modes' dequantized residency. */
  def hnswPqThroughput(spark: SparkSession, nVec: Long = 50000L,
      dim: Int = 64, nCells: Int = 64, nProbe: Int = 4, efSearch: Int = 96,
      window: Int = 60, k: Int = 10,
      pqM: Int = 16): (Double, Double, Long, Double, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bench_hnswpq").toString + "/hnsw"
    val emb = clusteredCorpus(spark, nVec, dim, nCells)
    graft.index.HnswIndex.build(emb, "vec_id", "embedding", nCells, dir, pqM = pqM)
    val queries = emb.limit(200).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
      .localCheckpoint(true)
    def searchOnce(resident: Boolean): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.HnswIndex.searchPq(
        spark, dir, queries, k, efSearch, nProbe, window,
        residentRerank = resident).count()
      require(got > 0, "hnsw pq search returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    searchOnce(resident = false) // warmup: codegen + code-graph residency
    val qps = 200.0 / math.min(searchOnce(false), searchOnce(false))
    // the resident in-cell rerank: no per-batch store IO, exact sims
    // beside the beam — the serve-during-update-safe form; costs
    // m+dim+24 B/node resident vs the codes-only m+8
    searchOnce(resident = true) // warmup: store residency
    val residentQps = 200.0 / math.min(searchOnce(true), searchOnce(true))
    val approx = graft.index.HnswIndex.searchPq(
      spark, dir, queries, k, efSearch, nProbe, window)
      .select("query_id", "neighbor_id")
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(queries, corpus, k)
      .select("query_id", "neighbor_id")
    val denom = exact.count()
    val hits = approx.join(exact, Seq("query_id", "neighbor_id")).count()
    graft.index.HnswIndex.evict(dir)
    (qps, hits.toDouble / denom, pqM + 8L, residentQps, pqM + dim + 24L)
  }

  /** X117/X120 IVF-PQ serving stats. `probeCeilingRecall` is the
    * attribution control: exact cosine RESTRICTED to the nProbe probed
    * cells (the float index at the same coarse quantizer), the recall no
    * rerank window can exceed — so `recall` decomposes into probe miss
    * (ceiling vs 1.0) and quantization distortion (ceiling vs ADC), and
    * `rerankRecall` shows how much of the distortion the window buys
    * back. `pca*` is the equal-code-bytes PCAR,PQ composition datapoint
    * (X118 wired into the index chain). */
  final case class PqStats(buildSec: Double, qps: Double, recall: Double,
      probeCeilingRecall: Double, bytesPerVec: Long, floatBytesPerVec: Long,
      rerankQps: Double, rerankRecall: Double, rerankWindow: Int,
      nProbe: Int, m: Int,
      pcaRecall: Double, pcaQps: Double, pcaBytesPerVec: Long)

  /** X117 IVF-PQ serving configuration on the SAME clustered corpus
    * shape as [[annPrunedThroughput]] (so the recall/qps rows are
    * directly comparable): build the compressed index, time warm ADC and
    * two-stage reranked search at the PRODUCTION setting (m = 16,
    * nProbe = 8, window = 10·k — chosen from the nProbe × m × window
    * grid recorded in docs/SCALE.md "IVF-PQ", where it measures rerank
    * recall 0.992 at bench scale), measure
    * recall@k against exact brute-force cosine WITH the probe-ceiling
    * control, and put the storage ratio vs the float64 index ON the
    * record — compression is the entire reason PQ exists, so a phase
    * that only reported qps would be measuring the wrong thing.
    *
    * Also measures the whitenless PCA(r=dim/2) → PQ(m/2) composition at
    * EQUAL code bytes to an m/2 raw index (the FAISS PCAR,PQ shape): on
    * this corpus the coarse residuals are isotropic hash noise, so
    * energy compaction has nothing to compact and the datapoint is an
    * honest negative — kept on the record precisely because it shows the
    * composition must be validated per-corpus, not assumed. */
  def pqThroughput(spark: SparkSession, nVec: Long = 50000L,
      dim: Int = 64, nCells: Int = 64, m: Int = 16, nProbe: Int = 8,
      k: Int = 10): PqStats = {
    val base = java.nio.file.Files.createTempDirectory("graft_bench_pq").toString
    val pqDir = base + "/pq"
    val plainDir = base + "/ivf"
    val window = 10 * k
    val emb = clusteredCorpus(spark, nVec, dim, nCells)
    // one untimed warmup build (codegen JIT of the build plan shapes —
    // the annThroughput methodology), then time a fresh build
    graft.index.PqIndex.build(emb, "vec_id", "embedding", nCells, pqDir + "w", m = m)
    val t0 = System.nanoTime()
    graft.index.PqIndex.build(emb, "vec_id", "embedding", nCells, pqDir, m = m)
    val buildSec = (System.nanoTime() - t0) / 1e9
    graft.index.VectorIndex.build(emb, "vec_id", "embedding", nCells, plainDir)
    val queries = emb.limit(200).select(col("vec_id").as("query_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("qv"))
      .localCheckpoint(true)
    def searchOnce(): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.PqIndex.search(spark, pqDir, queries, k, nProbe).count()
      require(got > 0, "pq search returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    searchOnce() // warmup: codegen + model read
    val qps = 200.0 / math.min(searchOnce(), searchOnce())
    val corpus = emb.select(col("vec_id").as("neighbor_id"),
      graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("nv"))
    val exact = graft.operators.Similarity.topKExact(queries, corpus, k)
      .select("query_id", "neighbor_id")
    val denom = exact.count()
    def recallOf(df: org.apache.spark.sql.DataFrame): Double =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count().toDouble / denom
    val recall = recallOf(graft.index.PqIndex.search(spark, pqDir, queries, k, nProbe))
    // probe-ceiling control: exact search through the float index at the
    // SAME nProbe (both indexes train the same deterministic coarse
    // quantizer on the same corpus) — no rerank window can beat this
    val probeCeiling = recallOf(
      graft.index.VectorIndex.search(spark, plainDir, queries, k, nProbe))
    def bytesUnder(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
      walk(new java.io.File(dir))
    }
    val pqBytes = bytesUnder(s"$pqDir/assigned.parquet")
    val floatBytes = bytesUnder(s"$plainDir/assigned.parquet")
    // two-stage serving: ADC shortlist of `window` (= 10·k) candidates +
    // exact re-rank — the production configuration when the float store
    // is reachable
    val embStore = emb.select(col("vec_id"), col("embedding"))
    def rerankOnce(): Double = {
      val t1 = System.nanoTime()
      val got = graft.index.PqIndex.searchReranked(spark, pqDir, queries,
        embStore, "vec_id", "embedding", k, nProbe, window = window).count()
      require(got > 0, "pq rerank returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    rerankOnce() // warmup
    val rrQps = 200.0 / math.min(rerankOnce(), rerankOnce())
    val rrRecall = recallOf(graft.index.PqIndex.searchReranked(spark, pqDir, queries,
      embStore, "vec_id", "embedding", k, nProbe, window = window))

    // PCA composition at EQUAL code bytes: project to r = dim/2, encode
    // with m/2 subquantizers (same bytes as a raw m/2 index), shortlist
    // in projected space, exact re-rank against the original floats
    val pcaDir = base + "/pq_pca"
    val pModel = graft.operators.Pca.fit(
      emb.select(graft.functions.VectorFunctions.vecAsDouble(col("embedding")).as("dv")),
      col("dv"), r = dim / 2)
    val projected = graft.operators.Pca.transform(emb, col("embedding"), pModel, "pv")
      .select(col("vec_id"), col("pv")).localCheckpoint(true)
    val qProjected = graft.operators.Pca.transform(
      emb.limit(200), col("embedding"), pModel, "pv")
      .select(col("vec_id").as("query_id"), col("pv").as("qv")).localCheckpoint(true)
    graft.index.PqIndex.build(projected, "vec_id", "pv", nCells, pcaDir, m = m / 2)
    // full two-stage pipeline (projected-space ADC shortlist + exact
    // rerank against the ORIGINAL floats) — both pca_qps and pca_recall
    // measure this same path, mirroring rerankOnce, so the recorded
    // speed is the speed AT the recorded recall
    def pcaServe(): org.apache.spark.sql.DataFrame = graft.operators.Similarity.rerank(
      graft.index.PqIndex.search(spark, pcaDir, qProjected, window, nProbe), queries, corpus, k)
    def pcaOnce(): Double = {
      val t1 = System.nanoTime()
      val got = pcaServe().count()
      require(got > 0, "pca+pq serve returned no rows")
      (System.nanoTime() - t1) / 1e9
    }
    pcaOnce() // warmup
    val pcaQps = 200.0 / math.min(pcaOnce(), pcaOnce())
    val pcaRecall = recallOf(pcaServe())
    val pcaBytes = bytesUnder(s"$pcaDir/assigned.parquet")

    PqStats(buildSec, qps, recall, probeCeiling, pqBytes / nVec,
      floatBytes / nVec, rrQps, rrRecall, window, nProbe, m,
      pcaRecall, pcaQps, pcaBytes / nVec)
  }

  /** Full seven-category quality assessment (incl. embeddings and the
    * MinHash near-dup pass the reference SKIPS above 10k segments) over a
    * synthesized corpus at the baseline's published scale — directly
    * comparable to BASELINE.md's 200-216 s for 81,115 spans / 63,374
    * beats. */
  def qualityAssessThroughput(spark: SparkSession,
      nSpans: Long = 81115L, nBeats: Long = 63374L): (Long, Long, Double, Map[String, Double]) = {
    def segments(n: Long, prefix: String, idName: String): org.apache.spark.sql.DataFrame =
      spark.range(n).select(
        format_string(s"${prefix}_%08d", col("id")).as(idName),
        format_string("EP%d", col("id") % 5).as("episode_id"),
        format_string("Speaker %d", col("id") % 40).as("speaker"),
        (floor(col("id") / 5) * 30.0).as("start_time"),
        (floor(col("id") / 5) * 30.0 + 20.0 + (col("id") % 21)).as("end_time"),
        (lit(20.0) + (col("id") % 21)).as("duration"),
        // mostly-unique word content (id-derived tokens dominate the
        // shingle set): realistic near-dup sparsity, so the MinHash pass
        // sees a plausible candidate load instead of an all-pairs wall
        concat(
          lit("w"), col("id") % 997, lit(" w"), (col("id") * 7) % 991,
          lit(" w"), (col("id") * 13) % 983, lit(" w"), (col("id") * 29) % 977,
          lit(" w"), (col("id") * 31) % 1009, lit(" w"), (col("id") * 37) % 1013,
          lit(" seg "), col("id"), lit(" spoken words")).as("text"))
    val spans = segments(nSpans, "spn", "span_id").localCheckpoint(false)
    val beats = segments(nBeats, "bet", "beat_id")
    val episodes = spans.groupBy("episode_id")
      .agg((max(col("end_time")) - min(col("start_time"))).as("episode_duration"))
    val emb = graft.embed.Embedder.embed(
      spans, "span_id", "text", "span", graft.embed.HashEncoder(dim = 16))
    val t0 = System.nanoTime()
    val a = graft.quality.Quality.assess(
      spans, beats, episodes, graft.quality.Quality.Thresholds(), Some(emb))
    val dt = (System.nanoTime() - t0) / 1e9
    require(a.metrics.contains("coverage_pct") && a.metrics.contains("near_dup_pct"),
      "assessment did not produce the full metric set")
    (nSpans, nBeats, dt, a.timings)
  }

  /** Warmup pass pays Catalyst analysis + whole-stage-codegen JIT per
    * query shape; then TWO measured passes, reporting each query's MIN —
    * steady-state engine cost with one-off GC hiccups damped, which is
    * what a long-running cluster actually sees. Each run writes the
    * query's rows to the `noop` sink, so every output column is
    * evaluated (a `count()` lets Catalyst prune the projection). A query
    * that throws in either measured pass gets no time: it is named in
    * `failed` and left out of `queries` and `total`.
    * Returns `{"total":…,"queries":{…},"failed":[…]}`. */
  def queriesJson(spark: SparkSession, sfDir: String, registry: Seq[Query]): ObjectNode = {
    val ordered = registry.sortBy(_.name)
    def run(q: Query): Unit =
      q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
    ordered.foreach { q =>
      try run(q) catch { case _: Throwable => () }
    }
    def measure(): Map[String, Option[Double]] = ordered.map { q =>
      val t0 = System.nanoTime()
      q.name -> (try { run(q); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => None })
    }.toMap
    val (m1, m2) = (measure(), measure())
    val (ok, failed) = ordered.map(_.name).partition(n => m1(n).nonEmpty && m2(n).nonEmpty)
    val results = ok.map(n => n -> math.min(m1(n).get, m2(n).get))
    obj("total" -> r3(results.map(_._2).sum),
      "queries" -> ListMap.from(results.map { case (k, v) => k -> r3(v) }),
      "failed" -> failed)
  }

  /** Whether a clean run on `cpus` cores may replace the anchor whose
    * text is `existing` (`None`: no anchor yet). `Left(why)` refuses: an
    * anchor recorded on another core count, or one with no `cpus` stamp
    * to compare, would be silently replaced by numbers it cannot be
    * diffed against. */
  def anchorVerdict(existing: Option[String], cpus: Int): Either[String, Unit] =
    existing.map(text => scala.util.Try(Json.parse(text).path("cpus")).toOption) match {
      case None => Right(())
      case Some(Some(c)) if c.isInt && c.asInt == cpus => Right(())
      case Some(Some(c)) if c.isInt =>
        Left(s"it was recorded on ${c.asInt} cpus, this run used $cpus")
      case Some(_) => Left("it carries no cpus stamp to compare with this run's")
    }

  /** A record object with its fields in the given order. */
  private def obj(fields: (String, Any)*): ObjectNode =
    Json.mapper.valueToTree[ObjectNode](ListMap(fields: _*))

  /** The record's 3-decimal seconds and ratios. */
  private def r3(v: Double): Double = math.rint(v * 1e3) / 1e3

  /** Child-JVM entry: run one phase, print its JSON fragment behind a
    * marker so the orchestrator can fish it out of Spark's log noise. */
  private def runPhase(phase: String, sfDir: String): Unit = {
    val spark = GraftSession.create()
    // phase JSONs carry computed results only — static input-size echoes
    // (rows=200000, vectors=50000, search_queries=1000, spans/beats,
    // baseline_sec) live in this file's source, not the artifact: the
    // driver keeps just a ~2 KB stdout tail, and at a 103-query surface
    // every echoed constant risks pushing the one-line artifact past it
    // (r8's official record lost its per-query block exactly this way)
    val json = phase match {
      case "queries" => queriesJson(spark, sfDir, Registry.all)
      case "ingest" =>
        val (rows, sec) = ingestThroughput(spark, 200000L, 50)
        obj("sec" -> r3(sec), "rows_per_sec" -> (rows / sec).toLong)
      case "ann" =>
        val (nVec, buildSec, nQ, searchSec) = annThroughput(spark)
        obj("build_sec" -> r3(buildSec), "build_vectors_per_sec" -> (nVec / buildSec).toLong,
          "search_sec" -> r3(searchSec), "search_queries_per_sec" -> (nQ / searchSec).toLong)
      case "ann_pruned" =>
        val (qps, recall, exhaustiveQps) = annPrunedThroughput(spark)
        obj("qps" -> qps.toLong, "recall" -> r3(recall), "exhaustive_qps" -> exhaustiveQps.toLong)
      case "hnsw" =>
        val (nVec, buildSec, qps, recall) = hnswThroughput(spark)
        val (pqQps, pqRecall, pqBytes, pqResQps, pqResBytes) = hnswPqThroughput(spark)
        obj("build_sec" -> r3(buildSec), "build_vectors_per_sec" -> (nVec / buildSec).toLong,
          "qps" -> qps.toLong, "recall" -> r3(recall), "pq_qps" -> pqQps.toLong,
          "pq_recall" -> r3(pqRecall), "pq_resident_bytes_per_vec" -> pqBytes,
          "pq_resident_rerank_qps" -> pqResQps.toLong,
          "pq_resident_rerank_bytes_per_vec" -> pqResBytes)
      case "curate_delta" =>
        val (rows, sec, bigRows, bigSec) = curateDeltaThroughput(spark, sfDir)
        obj("sec" -> r3(sec), "delta_rows" -> rows, "rows_per_sec" -> (rows / sec).toLong,
          "big_sec" -> r3(bigSec), "big_delta_rows" -> bigRows,
          "big_rows_per_sec" -> (bigRows / bigSec).toLong)
      case "ann_pq" =>
        val s = pqThroughput(spark)
        obj("build_sec" -> r3(s.buildSec), "pq_m" -> s.m, "n_probe" -> s.nProbe,
          "qps" -> s.qps.toLong, "recall" -> r3(s.recall),
          "probe_ceiling_recall" -> r3(s.probeCeilingRecall), "bytes_per_vec" -> s.bytesPerVec,
          "float_bytes_per_vec" -> s.floatBytesPerVec, "rerank_qps" -> s.rerankQps.toLong,
          "rerank_recall" -> r3(s.rerankRecall), "rerank_window" -> s.rerankWindow,
          "pca_recall" -> r3(s.pcaRecall), "pca_qps" -> s.pcaQps.toLong,
          "pca_bytes_per_vec" -> s.pcaBytesPerVec)
      case "streaming" =>
        val s = streamingThroughput(spark, 2000000L, 5000)
        val nd = streamingNearDupThroughput(spark, 200000L)
        obj("sessionize_rows_per_sec" -> (s.rows / s.sessionizeSec).toLong,
          "sessions" -> s.sessions, "state_rows" -> s.stateRows, "state_bytes" -> s.stateBytes,
          "batch_ms_p50" -> s.batchMsP50, "batch_ms_p95" -> s.batchMsP95,
          "watermark_lag_ms" -> s.watermarkLagMs,
          "window_rows_per_sec" -> (s.rows / s.windowSec).toLong,
          "neardup_docs_per_sec" -> (nd.docs / nd.sec).toLong,
          "neardup_pair_rows" -> nd.pairRows, "neardup_state_rows" -> nd.stateRows,
          "neardup_state_bytes" -> nd.stateBytes,
          "neardup_truncated_docs" -> nd.truncatedDocs,
          "neardup_estimated_pairs" -> nd.estimatedPairs,
          "neardup_uncapped_state_bytes" -> nd.uncappedStateBytes)
      case "quality" =>
        val (_, _, sec, timings) = qualityAssessThroughput(spark)
        // per-category wall seconds so a composite-number regression is
        // localizable (r6: a 2.8x phase swing with unchanged Quality.scala
        // was unattributable from the single total)
        obj("sec" -> r3(sec),
          "categories" -> ListMap.from(timings.toSeq.map { case (k, v) => k -> r3(v) }))
      case other => throw new IllegalArgumentException(s"unknown phase: $other")
    }
    println(Marker + Json.compact(json))
    spark.stop()
  }

  // same module opens build.sbt passes the parent; a child SparkSession
  // on JDK 17 needs them too (spark-submit would normally inject them)
  private val Jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Fork one JVM for `phase` (same classpath/heap/module opens as this
    * one) and return its marker JSON, or None on any failure. Spark logs
    * go to stderr (inherited); only the marker line is read from stdout.
    *
    * Fixed pre-touched heap, NOT the parent's -Xmx: inheriting a large
    * uncommitted heap let the guest kernel's page-commit churn land
    * INSIDE the measured window — phase times swung 3-10x run-to-run
    * with identical code (the r6 "quality 26->73 s with unchanged
    * Quality.scala" mystery; sys-time dominated user-time during slow
    * runs). -Xms=-Xmx + AlwaysPreTouch moves all page population into
    * unmeasured JVM startup, the same cost model as the AOT-compiled
    * native baseline, which commits its working set before its timers
    * start. Override via SPARK_GRAFT_BENCH_HEAP for scale-ladder runs. */
  /** Default forked-phase heap in GiB: 16 when the host can commit it,
    * else ~60% of MemAvailable (floor 2 GiB). AlwaysPreTouch commits the
    * whole heap at startup, so a fixed 16g on a small host would make the
    * fork fail to start and the phase silently vanish from the JSON. */
  private def defaultHeapGb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      val availKb = try src.getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong }
        .getOrElse(Long.MaxValue)
      finally src.close()
      math.max(2L, math.min(16L, (availKb * 0.6 / 1024 / 1024).toLong))
    } catch { case _: Throwable => 16L }

  private def forkPhase(phase: String): Option[JsonNode] =
    try {
      val heap = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAP", s"${defaultHeapGb()}g")
      val javaBin = java.nio.file.Paths.get(
        System.getProperty("java.home"), "bin", "java").toString
      val cmd = Seq(javaBin, s"-Xms$heap", s"-Xmx$heap", "-XX:+AlwaysPreTouch") ++
        Jdk17AddOpens ++ Seq(
          "-Dspark.ui.enabled=false",
          "-cp", System.getProperty("java.class.path"),
          "graft.Bench", "--phase", phase)
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8")
        .getLines().filter(_.startsWith(Marker)).toList
      val rc = proc.waitFor()
      if (rc != 0 || out.isEmpty)
        // a vanished phase must be diagnosable from the log, not invisible
        System.err.println(s"[bench] fork for phase '$phase' failed " +
          s"(rc=$rc, marker=${out.nonEmpty}); phase omitted from JSON " +
          "(stderr above is the forked JVM's own)")
      out.lastOption.filter(_ => rc == 0).map(l => Json.parse(l.stripPrefix(Marker)))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] fork for phase '$phase' threw " +
        s"${e.getClass.getSimpleName}: ${e.getMessage}; phase omitted from JSON")
      None
    }

  /** Hypervisor steal jiffies from /proc/stat (0 where unavailable):
    * bracketing each phase with this puts host contention ON THE RECORD,
    * so a phase-time swing with unchanged code is attributable to the
    * environment from the artifact alone instead of by archaeology. */
  private def stealJiffies(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toLong
      finally src.close()
    } catch { case _: Throwable => 0L }

  /** Box-noise canary (VERDICT r10, What's-wrong #1): a fixed
    * single-thread CPU+memory probe timed immediately before each phase
    * attempt. Steal jiffies only count cycles the hypervisor withheld; a
    * noisy neighbor ALSO degrades shared cache and memory bandwidth,
    * which steal can't see but canary drift can — r9/r10 sat 1.3-1.6×
    * above r8's clean absolutes with only 1-8% recorded steal. The probe
    * streams 4 passes of a 64 MiB long array through an xxhash-style
    * avalanche (DRAM-bound past any L3) so both frequency and bandwidth
    * contention move the number. Compare a phase's canary_ms against the
    * quiet-box value recorded in docs/SCALE.md before trusting absolute
    * cross-round deltas; SPARK_GRAFT_CANARY_MAX_MS turns it into a gate
    * (attempts above the bound re-run like steal-polluted ones). */
  private lazy val canaryBuf: Array[Long] = {
    val a = new Array[Long](8 * 1024 * 1024)
    var i = 0
    while (i < a.length) { a(i) = 0x9E3779B185EBCA87L * (i + 1); i += 1 }
    a
  }

  private def canaryMs(): Double = {
    val buf = canaryBuf
    val t0 = System.nanoTime()
    var h = 0x9E3779B185EBCA87L
    var pass = 0
    while (pass < 4) {
      var i = 0
      while (i < buf.length) {
        h ^= buf(i) + h
        h *= 0xC4CEB9FE1A85EC53L
        h ^= h >>> 29
        i += 1
      }
      pass += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) System.err.print("") // defeat dead-code elimination
    ms
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (args.length >= 2 && args(0) == "--phase") { runPhase(args(1), sfDir); return }

    // Orchestrator: queries first (the headline number), then the
    // one-shot phases, each on a fresh heap. Per-phase steal CPU-seconds
    // (USER_HZ=100) are collected alongside, and each phase is GATED on
    // them: a phase whose run lost more than max(2 CPU-s, 5% of its
    // wall) to hypervisor steal re-runs (up to 3 attempts), keeping the
    // MINIMUM-steal attempt — the r9 official record carried 326 stolen
    // CPU-s in the query phase alone, which made every cross-round delta
    // uninterpretable from the artifact. When all attempts are contended
    // the record still carries the residual steal beside the phase (the
    // gate picks the cleanest measurement it managed; it cannot
    // manufacture a quiet box — docs/SCALE.md discloses this).
    val steals = scala.collection.mutable.LinkedHashMap[String, Double]()
    val canaries = scala.collection.mutable.LinkedHashMap[String, Double]()
    val walls = scala.collection.mutable.LinkedHashMap[String, Double]()
    var stealRetries = 0
    // Canary gate ON BY DEFAULT since r12 (the r11 verdict's #2: three
    // rounds of official records never caught a fully-quiet window
    // because the gate was opt-in). 105 ms ≈ 1.15× the 91 ms quiet
    // baseline (docs/SCALE.md); a polluted attempt re-runs like a
    // steal-polluted one and the best-attempt pick prefers canary-clean.
    // SPARK_GRAFT_CANARY_MAX_MS overrides; "off" disables.
    val canaryGateMs = sys.env.get("SPARK_GRAFT_CANARY_MAX_MS") match {
      case Some("off") => None
      case Some(v) => Some(v.toDouble)
      case None => Some(105.0)
    }
    // SPARK_GRAFT_BENCH_ATTEMPTS=1 pins single-pass timing for ladder
    // runs where RATIOS are the product and a 3x retry budget would not
    // fit the window — the kept attempt's steal/canary stay on the
    // record either way, so a polluted single pass is still labeled
    val maxAttempts = sys.env.get("SPARK_GRAFT_BENCH_ATTEMPTS")
      .map(_.toInt).getOrElse(3).max(1)
    def gatedPhase(name: String): Option[JsonNode] = {
      // keep the best attempt, not the last: on a box where contention
      // comes in waves, attempt 2 can be clean and attempt 3 polluted
      // again — the record should carry the cleanest measurement it
      // managed, with its own steal and canary numbers beside it.
      // "Best" orders by (canary-polluted, steal): with the canary gate
      // set, a canary-CLEAN attempt always beats a canary-polluted one
      // even at marginally higher steal — otherwise the gate could
      // commit the very measurement it declared polluted and retried
      var best: Option[(Double, Double, JsonNode, Double)] = None // (steal, canary, json, wall)
      var attempt = 1
      var done = false
      while (!done) {
        val canary = canaryMs()
        val s0 = stealJiffies()
        val t0 = System.nanoTime()
        val result = forkPhase(name)
        val wall = (System.nanoTime() - t0) / 1e9
        val steal = (stealJiffies() - s0) / 100.0
        def key(st: Double, ca: Double): (Boolean, Double) =
          (canaryGateMs.exists(ca > _), st)
        result.foreach { j =>
          if (best.forall(b => Ordering[(Boolean, Double)]
            .gt(key(b._1, b._2), key(steal, canary))))
            best = Some((steal, canary, j, wall))
        }
        val polluted = steal > math.max(2.0, 0.05 * wall) ||
          canaryGateMs.exists(canary > _)
        if (polluted && attempt < maxAttempts && result.nonEmpty) {
          System.err.println(f"[bench] phase '$name' lost $steal%.1f CPU-s " +
            f"to steal over $wall%.0f s wall (canary $canary%.0f ms, " +
            f"attempt $attempt) — retrying")
          stealRetries += 1
          attempt += 1
        } else {
          if (polluted) System.err.println(f"[bench] phase '$name' still " +
            f"contended after $attempt attempts — keeping the min-steal " +
            f"attempt (${best.fold(-1.0)(_._1)}%.1f CPU-s)")
          done = true
        }
      }
      steals(name) = best.fold(-1.0)(_._1)
      canaries(name) = best.fold(-1.0)(_._2)
      walls(name) = best.fold(-1.0)(_._4)
      best.map(_._3)
    }
    val queries = gatedPhase("queries").getOrElse {
      // fork unavailable (unexpected classpath) — degrade to in-process
      val spark = GraftSession.create()
      try queriesJson(spark, sfDir, Registry.all) finally spark.stop()
    }
    val total = queries.path("total").asDouble(-1.0)
    val qs = Option(queries.get("queries")).getOrElse(Json.obj())
    val cpus = GraftSession.cpus.toInt
    val record = obj("metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> qs, "sf" -> sfDir, "cpus" -> cpus)
    // a query that threw has no time; the record names it instead
    Option(queries.get("failed")).filter(_.size > 0)
      .foreach(record.set[JsonNode]("failed", _))
    // the throughput phases run FIXED-SIZE synthetic corpora (200k-row
    // ingest, 50k-vector ANN, the 81k/63k quality assessment, generated
    // streams) — they measure the same workload at every sf, so
    // scale-ladder runs skip them (SPARK_GRAFT_BENCH_PHASES=skip) and
    // point at the official sf0.1 record instead of re-measuring noise
    val skipPhases = sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("skip")
    // curate_delta reads the sf documents table (not a fixed synthetic
    // corpus) but is still skipped on ladder runs: the ladder's product
    // is per-query ratios, and this phase's full-run setup would
    // dominate its window
    if (skipPhases) record.put("phases_note",
      "fixed-size synthetic phases skipped; see the official sf0.1 record")
    else Seq("ingest" -> "ingest", "ann" -> "ann", "ann_pruned" -> "ann_pruned",
      "ann_pq" -> "ann_pq", "hnsw" -> "hnsw", "curate_delta" -> "curate_delta",
      "quality" -> "quality_assess", "streaming" -> "streaming").foreach {
      case (phase, key) => gatedPhase(phase).foreach(record.set[JsonNode](key, _))
    }
    record.set[JsonNode]("steal_cpu_s",
      obj(steals.toSeq.map { case (k, v) => k -> math.rint(v * 10) / 10 }: _*))
    record.set[JsonNode]("canary_ms", obj(canaries.toSeq.map { case (k, v) => k -> v.round }: _*))
    // kept-attempt wall seconds: lets a reader audit the proportional
    // steal bound (clean ⇔ steal ≤ max(2, 5% of wall)) from the record
    record.set[JsonNode]("phase_wall_s", obj(walls.toSeq.map { case (k, v) => k -> v.round }: _*))
    if (stealRetries > 0) record.put("steal_retries", stealRetries)
    // Self-defending record (r14 verdict #1): when the kept attempts are
    // NOT canary+steal clean, the top-level JSON says so machine-readably
    // and carries the tracked anchor's total inline — so a round-over-round
    // diff of BENCH_rN.json files never manufactures a phantom regression
    // out of driver co-tenancy (r14's official 73.7 s vs its own clean
    // 61.6 s anchor). "Clean" is the same per-phase bound the retry gate
    // and the anchor writer apply.
    val phasesClean = steals.nonEmpty &&
      steals.forall { case (name, s) =>
        s >= 0 && s <= math.max(2.0, 0.05 * walls.getOrElse(name, 0.0)) } &&
      canaryGateMs.forall(g => canaries.values.forall(c => c >= 0 && c <= g))
    val anchorFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", "BENCH.anchor.json")
    if (!phasesClean) {
      record.put("contended", true)
      try {
        val anchorTotal = Json.read(new java.io.FileInputStream(anchorFile)).path("value")
        if (anchorTotal.isNumber) record.set[JsonNode]("anchor_total", anchorTotal)
      } catch { case _: Exception => () }
      record.put("anchor", anchorFile)
    }

    // Full artifact (long query names) goes to a FILE: round-5's official
    // record lost q01-q15 because the driver captures only the LAST
    // ~2000 stdout chars and the full-name line overflowed it. The
    // stdout line below carries the SAME numbers so the permanent record
    // never depends on log-tail length.
    val fullLine = Json.compact(record)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.local.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Exception => System.err.println(s"[bench] could not write $outFile: $e") }
    // Clean-anchor tracking (r12 verdict #1): when every kept attempt is
    // both canary-clean and steal-clean, copy the detail record to a
    // TRACKED anchor file — three rounds of tuning earned a quiet
    // window whose numbers then lived only in a gitignored detail file
    // the next run overwrote. The anchor is committed, so verdicts can
    // diff two anchors instead of trusting prose.
    // "clean" uses the SAME per-phase bound the retry gate applies —
    // steal ≤ max(2.0 CPU-s, 5% of the kept attempt's wall seconds) —
    // not a flat 2.0: a flat bound demands 0.02% purity from the
    // ~5-minute queries phase (stricter than any run the r12 prose
    // ever called clean) while letting a 20-s phase run 10× dirtier
    // proportionally. Canary within the gate remains the primary
    // single-thread cleanliness signal.
    if (phasesClean && !skipPhases) {
      try {
        val anchorPath = java.nio.file.Paths.get(anchorFile)
        val existing = Option.when(java.nio.file.Files.exists(anchorPath))(
          java.nio.file.Files.readString(anchorPath))
        anchorVerdict(existing, cpus) match {
          case Left(why) =>
            System.err.println(s"[bench] all phases canary+steal clean, but " +
              s"$anchorFile is left as it is: $why (its per-query seconds " +
              "are not comparable with this run's; move it aside to re-anchor " +
              "on this core count)")
          case Right(()) =>
            java.nio.file.Files.write(anchorPath, (fullLine + "\n").getBytes("UTF-8"))
            System.err.println(s"[bench] all phases canary+steal clean — anchor " +
              s"written to $anchorFile (commit it: the anchor is the tracked " +
              "detail record SCALE.md cites; an uncommitted anchor is just a " +
              "scratch file the next run overwrites)")
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not write $anchorFile: $e") }
    }
    // stdout carries a NAMED per-query seconds map (r15 verdict #2: the
    // r14/r15 name-less ms array left the driver's PERF per_query join
    // empty both rounds). The 2000-char tail capture cannot hold 125
    // full query names (~3.1 KB of keys alone — r8/r9 went parsed:null
    // exactly this way), so the keys are each query's UNIQUE leading
    // "qNN" token (q01../q125 — one query per number by construction,
    // asserted below); the full-name seconds map is in the detail file
    // and on the sacrificial full line printed just above the official
    // one. Values are the same 3-decimal seconds as the file's.
    val shortQs = qs.fieldNames.asScala.toSeq.map { name =>
      val digits = name.drop(1).takeWhile(_.isDigit)
      require(name.startsWith("q") && digits.nonEmpty, s"query $name needs a " +
        "leading qNN token to reach the stdout map")
      s"q$digits" -> qs.get(name)
    }.sortBy(_._1)
    require(shortQs.map(_._1).distinct.size == shortQs.size,
      "query short keys (leading qNN token) must be unique for the stdout map")
    val short = record.deepCopy()
    short.set[JsonNode]("queries", obj(shortQs: _*))
    short.put("detail", outFile)
    // deterministic trim ladder against the 2000-char capture: drop the
    // quality category sub-map first (it lives in the detail file), and
    // if the phase maps THEMSELVES no longer fit (r12's official record
    // went parsed:null exactly this way — the line was printed past the
    // budget with only a warning), fall back to a minimal line that
    // always fits: total + named per-query seconds + detail pointer. The
    // budget is 1800, not 2000: sbt's trailing "[success] Total time"
    // line eats ~100 chars of the driver's tail capture after ours.
    val withCats = Json.compact(short)
    Option(short.get("quality_assess")).collect { case q: ObjectNode => q.remove("categories") }
    val withoutCats = Json.compact(short)
    val minimal = obj(Seq("metric", "value", "unit", "queries", "sf", "cpus", "failed",
      "steal_retries", "contended", "anchor_total", "anchor")
      .flatMap(k => Option(short.get(k)).map(k -> _)) :+
      ("trimmed" -> "phase maps in detail file") :+ ("detail" -> outFile): _*)
    val out = Seq(withCats, withoutCats).find(_.length <= 1800)
      .getOrElse(Json.compact(minimal))
    if (out.length > 1800)
      System.err.println(s"[bench] even the minimal stdout line is ${out.length} " +
        "chars — past the driver's tail capture; the per-query map itself " +
        "has outgrown the budget")
    // sacrificial FULL-NAME line first: complete in the full stdout
    // stream (and human logs), cut by the 2000-char tail so it can never
    // shadow the official line for a tail parser — it deliberately does
    // not contain the string `"metric"` anywhere
    println(Json.compact(obj("queries_sec_full" -> qs)))
    println(out)
  }
}
