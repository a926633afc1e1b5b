package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{Corpus, Dedup, Intervals, Sessionize, Stats, TextAnalysis}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with DuckDB-equivalent `oracleSql` where the semantics
  * are SQL-expressible.
  *
  * Cross-engine exactness rules used throughout (so value hashes match):
  *  - money/quantity sums go through DECIMAL(18,2) (exact, order-independent),
  *    then cast to double at the end;
  *  - event-time arithmetic stays in integer microseconds (`Tables.events`
  *    surfaces the ns-parquet as long µs — DuckDB truncates ns to µs on
  *    read, so µs is the finest commonly-visible precision);
  *  - averages are one double division of exact parts;
  *  - percentiles/stddev/similarities are rounded to 6 decimals;
  *  - every query ends with a total ORDER BY.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  // ---- shared helpers ------------------------------------------------

  private val GapUs: Long = 600L * 1000 * 1000 // 600 s session gap

  private def dec2(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact sum of a 2-decimal quantity, surfaced as double. */
  private def dsum(c: Column): Column = sum(dec2(c)).cast("double")

  /** events with integer-us interval [s_us, e_us), e = s + floor(value*1e6). */
  private def eventIntervals(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("user_id"), col("event_id"), col("event_type"),
      col("ts").as("s_us"),
      (col("ts") + floor(col("value") * lit(1e6)).cast("long")).as("e_us"))

  // ---- operators exposed as queries ---------------------------------

  /** A1-style grouped pricing summary (SURVEY §2.4 A1; TPC-H Q1 shape). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** A1 entity catalog: per-user event rollup with sorted distinct list
    * (reference episode catalog, catalogs/episodes.py:106-121). */
  def entityCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("ts")).as("first_ts_us"),
        max(col("ts")).as("last_ts_us"),
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("type_list"),
        dsum(col("value")).as("total_value"))
      .orderBy("user_id")

  /** A2 activity catalog: per-event-type rollup (catalogs/speakers.py:61-75). */
  def activityCatalog(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("total_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"),
        min(col("ts")).as("first_ts_us"),
        max(col("ts")).as("last_ts_us"))
      .orderBy("event_type")

  /** Session rollup without the output ordering — shared by [[sessions]]
    * (which presents it sorted) and [[sessionStats]] (a global aggregate,
    * where a total sort would be pure waste). */
  private def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    Sessionize.withSessions(e, Seq("user_id"), "ts", Seq("event_id"),
        GapUs, changeCols = Seq("event_type"))
      .groupBy("user_id", "session_seq")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_us"),
        max(col("ts")).as("end_us"),
        min(col("event_type")).as("event_type"), // constant within session
        dsum(col("value")).as("total_value"))
  }

  /** G1 sessionization: break on >600s gap or event_type change
    * (aggregation/spans.py:113-249 re-expressed as gaps-and-islands). */
  def sessions(spark: SparkSession, dir: String): DataFrame =
    sessionAgg(spark, dir).orderBy("user_id", "session_seq")

  /** A7/A8 interval union coverage per user (coverage.py:19-80). */
  def intervalUnion(spark: SparkSession, dir: String): DataFrame =
    Intervals.unionDuration(eventIntervals(spark, dir), Seq("user_id"), "s_us", "e_us",
        unionCol = "union_us", nIslandsCol = "n_islands")
      .orderBy("user_id")

  /** A9/A10 gap statistics per user (coverage.py:336-372, integrity.py:26-151). */
  def gapStats(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    e.withColumn("gap_us", col("ts") - lag(col("ts"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("total_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(when(col("gap_us") > GapUs, 1L).otherwise(0L)).as("n_large_gaps"))
      .orderBy("user_id")
  }

  /** A4 distribution stats with exact percentiles (distribution.py:19-108). */
  def valueStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_v"),
        max(col("l_quantity")).as("max_v"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_v"),
        round(percentile(col("l_quantity"), lit(0.05)), 6).as("p05"),
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
        round(percentile(col("l_quantity"), lit(0.95)), 6).as("p95"),
        round(stddev_samp(col("l_quantity")), 6).as("std_v"))
      .orderBy("l_returnflag")
  }

  /** A6 fixed-edge histogram of event values (distribution.py:218-319). */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Stats.histogram(Tables.events(spark, dir), col("value"),
        Seq(0.0, 10.0, 25.0, 50.0, 100.0, 200.0))
      .orderBy("bin_id")

  /** A12 exact-duplicate stats over normalized document text
    * (integrity.py:379-549). One summary row; dup detail table is empty on
    * this corpus (verified) but the group-by machinery is identical. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
      .withColumn("norm_text", TF.normalizeWs(col("text")))
      .filter(length(col("norm_text")) >= 10)
    val groups = docs.groupBy("norm_text").agg(count(lit(1)).as("n"))
    groups.agg(
      sum(col("n")).as("n_docs"),
      count(lit(1)).as("n_distinct"),
      sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_groups"),
      sum(when(col("n") > 1, col("n")).otherwise(0L)).as("n_dup_docs"))
  }

  /** A19 stopword-filtered top-20 terms (text_quality.py:394-492). */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    docs.select(explode(TF.contentTokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)
  }

  /** A19 corpus top-20 bigrams: ALL word pairs by occurrence (not
    * distinct-per-doc), kept when at least one word is a content word —
    * the reference's bigram counter (text_quality.py:446-480) beside
    * q10's unigrams. */
  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    val stop = array(TF.stopwords.map(lit): _*)
    Tables.documentsSpread(spark, dir)
      .select(TF.tokens(col("text")).as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("_tk")) - 2),
        i => struct(
          element_at(col("_tk"), i + 1).as("w1"),
          element_at(col("_tk"), i + 2).as("w2")))).as("bg"))
      .filter(!array_contains(stop, col("bg.w1")) || !array_contains(stop, col("bg.w2")))
      .select(concat_ws(" ", col("bg.w1"), col("bg.w2")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** A14 per-user share + top-10 ranking (balance.py:18-208, W3).
    * No global window: an empty-partition window funnels every user into
    * ONE task. The corpus total rides along as a 1-row broadcast, the
    * top-10 is a distributed TakeOrderedAndProject, and only the 10
    * surviving rows are numbered. */
  def userShare(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(spark, dir).groupBy("user_id").agg(count(lit(1)).as("n"))
    val total = broadcast(counts.agg(sum(col("n")).as("_total")))
    val top = counts.crossJoin(total)
      .withColumn("pct", round(lit(100.0) * col("n") / col("_total"), 4))
      .orderBy(col("n").desc, col("user_id")).limit(10)
    top.withColumn("rnk", row_number().over(Window.orderBy(col("n").desc, col("user_id"))))
      .select("user_id", "n", "pct", "rnk")
      .orderBy("rnk")
  }

  /** J1 dimension enrichment via broadcast joins (balance.py:295-299). */
  def regionRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct(col("n_name")).as("n_nations"),
        dsum(col("c_acctbal")).as("total_acctbal"),
        (dsum(col("c_acctbal")) / count(lit(1))).as("avg_acctbal"))
      .orderBy("r_name")
  }

  /** J5/E2 anti-join: customers with no orders (ingest.py:219-295 shape). */
  def custWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), min(col("c_custkey")).as("min_custkey"))
      .orderBy("c_mktsegment")
  }

  /** J7 semi-join: customers that do have orders, rolled up by nation. */
  def custWithOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val n = Tables.nation(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("n_name")
  }

  /** A16 text metrics per language (text_quality.py:39-156). */
  def textMetrics(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TF.tokenCount(col("text")))
      .withColumn("n_chars_calc", length(col("text")))
    docs.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"),
        sum(col("n_chars_calc")).as("total_chars"),
        (sum(col("n_tokens")).cast("double") / count(lit(1))).as("avg_tokens"),
        (sum(col("n_chars_calc")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang")
  }

  /** A17 lexical density per language (text_quality.py:159-277). */
  def lexicalDensity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", TF.tokenCount(col("text")))
      .withColumn("n_content", TF.contentTokenCount(col("text")))
    docs.groupBy("lang")
      .agg(
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_content")).as("content_tokens"))
      .withColumn("density",
        col("content_tokens").cast("double") / col("total_tokens").cast("double"))
      .orderBy("lang")
  }

  /** J8 pairwise interval overlaps per user (coverage.py:374-427). */
  /** J8 interval-overlap pair counts per user — BANDED range join
    * ([[graft.operators.Intervals.overlapPairCountsBanded]]): candidates
    * from an equi-join on (user, time band), so a hot user spreads over
    * its time axis instead of one quadratic reducer. Band width ≈ the
    * p95 interval length (150 s) keeps per-interval fan-out ≈ 2. */
  def overlapPairs(spark: SparkSession, dir: String): DataFrame =
    Intervals.overlapPairCountsBanded(eventIntervals(spark, dir),
        Seq("user_id"), "s_us", "e_us", "event_id", bandWidth = 150e6)
      .orderBy("user_id")

  /** V3 exact top-k cosine neighbors for a query set (embedding.py:408-472).
    * Brute-force contract; the LSH/IVF variants are the scale path. */
  def knnExact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"))
    // the selective query side goes through the file-skipping read: on a
    // multi-file layout only files whose footer range covers [0, 9] open
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 9L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("v").as("nv"))
    graft.operators.Similarity.topKExact(q, c, 5)
      .orderBy("query_id", "rnk")
  }

  /** V4/V5 end-to-end through the persisted IVF index, exhaustively
    * probed: with nProbe = nCells the partition-pruned search visits
    * every cell, so its top-k must reproduce the q18 brute-force oracle
    * bit-for-bit — an oracle gate on the whole build→persist→search
    * path, not just a recall bound (faiss_builder.py:181-284;
    * embedding.py:408-472). The index is built once per JVM per data
    * dir (build throughput is measured separately in the bench ann
    * phase; the query measures search). */
  private val ivfIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  // bench-harness convenience state, not library API: the per-dir temp
  // indexes are reclaimed when the JVM exits rather than outliving it
  locally {
    sys.addShutdownHook {
      ivfIndexDirs.values().forEach { d =>
        try org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(d))
        catch { case _: Exception => () }
      }
    }
  }
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndexDirs.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ivf-").toString
      graft.index.VectorIndex.build(
        Tables.embeddings(spark, dir), "vec_id", "embedding", nCells = 16, tmp)
      tmp
    })
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 9L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))
    graft.index.VectorIndex.search(spark, idx, q, k = 5, nProbe = 16)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** X131 end-to-end through the persisted per-cell HNSW graph index,
    * exhaustively probed (nProbe = nCells, efSearch ≥ cell size): the
    * backbone-connected layer-0 graph makes the beam search visit every
    * node, so the result must reproduce the q18 brute-force oracle
    * bit-for-bit — the same oracle gate q56 puts on the IVF path, here
    * gating the whole graph build→persist→load→search chain
    * (faiss_builder.py:60-147's HNSW artifact, re-expressed as a
    * parquet graph table + distributed beam search). The serving-shaped
    * configuration's recall/throughput trade is measured in
    * HnswIndexSpec and the bench hnsw phase. */
  private val hnswIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    sys.addShutdownHook {
      hnswIndexDirs.values().forEach { d =>
        try org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(d))
        catch { case _: Exception => () }
      }
    }
  }
  def knnHnsw(spark: SparkSession, dir: String): DataFrame = {
    val idx = hnswIndexDirs.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hnsw-").toString
      graft.index.HnswIndex.build(
        Tables.embeddings(spark, dir), "vec_id", "embedding", nCells = 16, tmp,
        m = 8, efConstruction = 64)
      tmp
    })
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 9L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))
    graft.index.HnswIndex.search(spark, idx, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 16)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** X131's PQ serving composition end-to-end through a persisted
    * PQ-coded graph index (FAISS's HNSW+PQ+refine), exhaustively
    * configured: efSearch ≥ cell size makes the asymmetric-distance
    * beam visit every node, window ≥ cell size makes the exact in-cell
    * rerank an exhaustive scan of the resident int8 store — so the
    * result must reproduce the INT8-exhaustive brute force, which the
    * oracle replays by quantize/dequantizing the corpus side in SQL
    * (the q63-proven `round(x·scale)/scale` replay). Gates the whole
    * codebook-train → residual-encode → code-beam → exact-rerank chain
    * cross-engine, not just against the Spark-side oracle in
    * HnswPqSpec (faiss_builder.py:60-147's HNSW artifact composed with
    * embedding.py's PQ compression, re-expressed Spark-first). */
  private val hnswPqIndexDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  locally {
    sys.addShutdownHook {
      hnswPqIndexDirs.values().forEach { d =>
        try org.apache.spark.network.util.JavaUtils.deleteRecursively(new java.io.File(d))
        catch { case _: Exception => () }
      }
    }
  }
  def knnHnswPq(spark: SparkSession, dir: String): DataFrame = {
    val idx = hnswPqIndexDirs.computeIfAbsent(dir, _ => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-hnswpq-").toString
      graft.index.HnswIndex.build(
        Tables.embeddings(spark, dir), "vec_id", "embedding", nCells = 16, tmp,
        m = 8, efConstruction = 64, pqM = 8)
      tmp
    })
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 9L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"))
    graft.index.HnswIndex.searchPq(spark, idx, q, k = 5,
        efSearch = Int.MaxValue, nProbe = 16, window = Int.MaxValue,
        residentRerank = true)
      .select("query_id", "neighbor_id", "sim", "rnk")
      .orderBy("query_id", "rnk")
  }

  /** MinHash-LSH near-dup candidates with exact-Jaccard verification
    * (the scale path for integrity.py:551-616's O(n²) fuzzy dedup).
    * Word-bigram shingles, k=12 minhashes in 3 bands of 4 — poly-hash based
    * so the DuckDB oracle can replay the identical pipeline. The corpus has
    * planted near-dups at bigram-jaccard ≈ 0.96-0.99; banding at r=4 catches
    * those with p ≈ 0.997 while suppressing random same-vocab collisions
    * (j=0.5 pairs collide at ~6% per band instead of ~13%). */
  def minhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(
        Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text")),
        "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3, threshold = 0.5,
        maxBucket = Dedup.DefaultMaxBucket)
      .orderBy("id_a", "id_b")

  /** SimHash 30-bit fingerprints per document (near-dup sketching).
    * One-pass codegen kernel ([[graft.expressions.HashKernels.simhashBits]])
    * instead of the 30-aggregate HOF chain — same values. */
  def simhashFingerprints(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.{HashFunctions => HF}
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        HF.simhash_bits(HF.poly_hash_array(TF.tokens(col("text"))), 30).as("fp"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup summary per language block: pair count at Hamming ≤ 8
    * and the minimum candidate distance (NULL when a language has no pair
    * within 8). Candidates come from pigeonhole banding
    * ([[graft.operators.Dedup.simhashNearDupPairs]]): an equi-join on
    * (lang, chunk_id, chunk_val) — exact for the ≤ 8 contract, and no
    * n²-row self-join even when one language dominates the corpus. */
  def simhashPairStats(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.{HashFunctions => HF}
    val fps = Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        HF.simhash_bits(HF.poly_hash_array(TF.tokens(col("text"))), 30).as("fp"))
    val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "fp", Seq("lang"), maxDist = 8)
    val perLang = pairs.groupBy("lang").agg(
      count(lit(1)).as("n_pairs_le8"),
      min(col("dist")).cast("long").as("min_dist"))
    Tables.documents(spark, dir).select("lang").distinct()
      .join(perLang, Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("n_pairs_le8"), lit(0L)).as("n_pairs_le8"),
        col("min_dist"))
      .orderBy("lang")
  }

  /** N-gram (word-bigram) Jaccard: top-20 most-similar same-language
    * document pairs — exact. Each doc's shingle set is a sorted array of
    * 64-bit hashes; the all-pairs merge runs inside the blocked kernel
    * ([[graft.operators.Dedup.jaccardTopPairsBlocked]]), never as an
    * n²-row join. (An inverted-index join is the alternative when shingle
    * document frequencies are low; this corpus shares a tiny vocabulary,
    * making Σdf² worse than n²·merge, so the dense shape wins here.) */
  def jaccardTopPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.TextExprs.register(spark)
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("lang"), col("doc_id"), TF.tokens(col("text")).as("tk"))
      .select(col("lang"), col("doc_id"),
        graft.expressions.TextExprs.xx_sorted_hash(
          graft.expressions.TextExprs.distinct_word_ngrams(col("tk"), 2)).as("hsh"))
    Dedup.jaccardTopPairsBlocked(docs, "lang", "doc_id", "hsh", k = 20, nBlocks = 8)
  }

  /** q22's contract through the exact-duplicate pre-collapse path (see
    * [[graft.operators.Dedup.jaccardTopPairsCollapsed]]): identical
    * result by construction — the oracle replays q22's SQL verbatim —
    * but the O(n²·set) intersection work is paid on DISTINCT shingle
    * encodings only. On the replica ladder the uncollapsed q22 was the
    * worst remaining superlinear query (its ~40 verbatim twins per doc
    * inflate the true jac-1.0 pair mass quadratically); measured side by
    * side in SCALE.md. */
  def jaccardTopPairsCollapsed(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.TextExprs.register(spark)
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("lang"), col("doc_id"), TF.tokens(col("text")).as("tk"))
      .select(col("lang"), col("doc_id"),
        graft.expressions.TextExprs.xx_sorted_hash(
          graft.expressions.TextExprs.distinct_word_ngrams(col("tk"), 2)).as("hsh"))
    Dedup.jaccardTopPairsCollapsed(docs, "lang", "doc_id", "hsh", k = 20, nBlocks = 8)
  }

  /** Embedding near-dup: top-20 vector pairs by cosine (a < b).
    * Blocked all-pairs kernel (see [[graft.operators.Similarity
    * .topPairsExactBlocked]]): O(B·n·d) network instead of an n²-row
    * crossJoin, exact results including 6-dp rounding ties. */
  def embeddingTopPairs(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.topPairsExactBlocked(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 20, nBlocks = 8)

  /** q23's contract through the exact-duplicate pre-collapse path (see
    * [[graft.operators.Similarity.topPairsExactCollapsed]]): identical
    * result by construction — the oracle replays q23's SQL verbatim — but
    * the n²·d kernel work is paid on DISTINCT vectors only, which is what
    * rescues the exact contract on duplicate-dense corpora (the replica
    * ladder's twin density made the uncollapsed q23 the last superlinear
    * family; measured side by side in SCALE.md). */
  def embeddingTopPairsCollapsed(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.topPairsExactCollapsed(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 20, nBlocks = 8)

  /** Heuristic quality score rollup per language (DECIMAL-exact mean). */
  def docQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("score", TextAnalysis.qualityScore(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("score").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_score"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy("lang")

  /** Whitespace vs BPE-ish token counts per language. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_ws", TF.tokenCount(col("text")))
      .withColumn("n_bpeish", TextAnalysis.bpeishTokenCount(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws")).as("total_ws"),
        sum(col("n_bpeish")).as("total_bpeish"),
        (sum(col("n_bpeish")).cast("double") / sum(col("n_ws")).cast("double")).as("bpe_per_ws"))
      .orderBy("lang")

  /** Rolling-hash fingerprint per document (content addressing). */
  def docFingerprints(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Self-trained char-trigram language-ID confusion matrix. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    // profiles train on a deterministic quarter-sample (mirrored in the
    // oracle); classification still covers every document. The doc's own
    // lang CARRIES through the classify aggregation (r16) — the former
    // docs ⋈ pred join-back on doc_id cost two corpus-sized exchanges
    // just to recover a column the classify input already had.
    val pred = TextAnalysis.langIdByTrigramProfile(docs, "doc_id", col("text"), "lang",
      trainDf = Some(docs.filter(col("doc_id") % 4 === 0)),
      carryCols = Seq("lang"))
    pred
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** A21/A22 segment statistics over generated sessions (children per
    * parent, duration stats, in-range %). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val s = sessionAgg(spark, dir)
      .withColumn("dur_us", col("end_us") - col("start_us"))
    s.agg(
      count(lit(1)).as("n_sessions"),
      countDistinct(col("user_id")).as("n_users"),
      sum(col("n_events")).as("total_events"),
      (sum(col("n_events")).cast("double") / count(lit(1))).as("events_per_session"),
      max(col("dur_us")).as("max_dur_us"),
      round(lit(100.0) * sum(when(col("dur_us") <= 600L * 1000 * 1000, 1).otherwise(0))
        / count(lit(1)), 4).as("within_10min_pct"))
  }

  /** V7 deterministic stratified sampling: 3 rows per (user bucket,
    * event_type) stratum by hash order — the reproducible analog of the
    * reference's seeded numpy sampling (embedding.py:186-307). */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("int"))
    // LCG scramble as the deterministic "random" order — replicable in
    // any engine with 64-bit integer arithmetic (unlike xxhash64)
    val scramble = (col("event_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
    val w = Window.partitionBy("bucket", "event_type")
      .orderBy(scramble, col("event_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_sampled"),
        countDistinct(col("event_type")).as("n_types"),
        min(col("event_id")).as("min_event_id"))
      .orderBy("bucket")
  }

  /** C16/V10 correlation: Pearson + Spearman (corr of ranks) per flag. */
  def correlations(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val wQ = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
    val wP = Window.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    li.withColumn("rq", row_number().over(wQ).cast("double"))
      .withColumn("rp", row_number().over(wP).cast("double"))
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("pearson"),
        round(corr(col("rq"), col("rp")), 6).as("spearman"))
      .orderBy("l_returnflag")
  }

  /** J9 temporal-adjacency join: per user, events with a neighbor within
    * a tolerance (equi on user + range predicate — the band-join shape;
    * the reference uses ±5s on speech, we use ±1h on this event corpus). */
  def adjacencyCounts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("user_id"), col("event_id"), col("ts"))
    val tolUs = 3600L * 1000 * 1000
    // RANGE-frame window instead of the band self-join: one sorted pass
    // per user (two-pointer frame) counts each event's in-tolerance
    // neighbors, so cost is O(n log n + Σ neighbors) rather than the
    // join's O(n·k) row materialization. event_id is unique, so
    // "count(DISTINCT a.event_id)" degenerates to "events with ≥1
    // neighbor", and ordered-pair count = Σ (frame size − 1).
    val w = Window.partitionBy("user_id").orderBy(col("ts"))
      .rangeBetween(-tolUs, tolUs)
    e.withColumn("n_nbr", count(lit(1)).over(w) - 1)
      .groupBy("user_id")
      .agg(
        sum(when(col("n_nbr") > 0, 1L).otherwise(0L)).as("n_with_neighbor"),
        sum(col("n_nbr")).as("n_adjacent_pairs"))
      .filter(col("n_adjacent_pairs") > 0) // join shape emits no row for pairless users
      .orderBy("user_id")
  }

  /** Rollup aggregation (engine capability beyond the reference's flat
    * GROUP BYs; A1 family at multiple grains). */
  def rollupSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** W2 running/windowed aggregates: cumulative sum + 5-row moving average
    * per user over event time. Output limited to 2 users for compactness. */
  def runningAggregates(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).filter(col("user_id") < 2)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e.withColumn("running_total",
        sum(dec2(col("value"))).over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .withColumn("moving_avg",
        (sum(dec2(col("value"))).over(w.rowsBetween(-4, 0)).cast("double")
          / count(lit(1)).over(w.rowsBetween(-4, 0))))
      .select("user_id", "event_id", "ts", "running_total", "moving_avg")
      .orderBy("user_id", "ts", "event_id")
  }

  /** V16 embedding sanity: dim consistency + norm stats per label. */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vec_dot
    Tables.embeddings(spark, dir)
      .withColumn("v", VF.vecAsDouble(col("embedding")))
      .withColumn("nrm", sqrt(vec_dot(col("v"), col("v"))))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(size(col("embedding"))).as("n_dims"),
        min(size(col("embedding"))).cast("long").as("dim"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(col("nrm")), 6).as("max_norm"),
        (sum(col("nrm").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_norm"))
      .orderBy("label")
  }

  /** V10 length-bias: corr(document length, embedding norm) — documents
    * and embeddings share the id space (doc_id = vec_id). */
  def lengthBias(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.VectorExprs.register(spark)
    import graft.expressions.VectorExprs.vec_dot
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v", VF.vecAsDouble(col("embedding")))
      .select(col("vec_id"), sqrt(vec_dot(col("v"), col("v"))).as("nrm"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"), col("lang"))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        round(corr(col("n_chars").cast("double"), col("nrm")), 6).as("len_norm_corr"))
      .orderBy("lang")
  }

  /** F2/F3 validity split: first-match rule classification with the
    * error taxonomy as rows, not exceptions (validator.py:171-342).
    * At scale this is the one-pass variant of "filter valid + collect
    * errors": a single scan feeds both consumers. */
  def validationSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .withColumn("rule",
        when(col("l_quantity") <= 0, "bad_quantity")
          .when(col("l_discount") > 0.08, "high_discount")
          .when(col("l_tax") > 0.06, "high_tax")
          .when(col("l_shipdate").isNull, "missing_shipdate")
          .otherwise("valid"))
      .groupBy("rule")
      .agg(
        count(lit(1)).as("n"),
        min(col("l_orderkey")).as("min_orderkey"),
        dsum(col("l_extendedprice")).as("total_price"))
      .orderBy("rule")

  /** A10 timestamp monotonicity: per-user interval regressions where the
    * previous interval's end overruns the next start
    * (integrity.py:26-151). */
  def monotonicity(spark: SparkSession, dir: String): DataFrame = {
    val iv = eventIntervals(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("s_us"), col("e_us"), col("event_id"))
    iv.withColumn("prev_e", lag(col("e_us"), 1).over(w))
      .withColumn("reg", when(col("prev_e") > col("s_us"), 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("reg")).as("n_regressions"),
        round(lit(100.0) * sum(col("reg")) / count(lit(1)), 4).as("regression_pct"))
      .filter(col("n_regressions") > 0)
      .orderBy("user_id")
  }

  /** A5 length compliance: % of documents within [100,400] chars per
    * language (distribution.py:111-215; we report 4-dp percentages
    * instead of the reference's force-sum-to-100 rounding). */
  def lengthCompliance(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = (100, 400)
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(lit(100.0) * sum(when(col("n_chars") >= lo && col("n_chars") <= hi, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_in_range"),
        round(lit(100.0) * sum(when(col("n_chars") < lo, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_short"),
        round(lit(100.0) * sum(when(col("n_chars") > hi, 1).otherwise(0))
          / count(lit(1)), 4).as("pct_long"))
      .orderBy("lang")
  }

  /** A18 punctuation ratio per language: punct chars / non-ws chars,
    * decimal-exact mean of the per-doc ratios (text_quality.py:280-391). */
  def punctRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("pr", TF.punctRatio(col("text")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        (sum(col("pr").cast("decimal(20,12)")).cast("double") / count(lit(1))).as("avg_punct_ratio"),
        round(min(col("pr")), 6).as("min_punct_ratio"),
        round(max(col("pr")), 6).as("max_punct_ratio"))
      .orderBy("lang")

  /** C9-family date handling: orders rolled up by calendar year. */
  def dateRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("total_price"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
      .orderBy("order_year")

  /** A20 weighted share: fraction of quantity contributed by returned
    * lines per linestatus (speaker_roles.py:344-420's token-weighted
    * expert coverage, re-keyed). */
  def weightedShare(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("total_qty"),
        sum(when(col("l_returnflag") === "R", dec2(col("l_quantity"))).otherwise(lit(0).cast("decimal(18,2)")))
          .cast("double").as("returned_qty"))
      .withColumn("returned_share", col("returned_qty") / col("total_qty"))
      .orderBy("l_linestatus")

  /** E4 order-preserving dedup: each user's distinct event types in
    * first-occurrence order (speaker_roles.py:323-329's speakers_set). */
  def typeSequence(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(min(col("ts")).as("first_ts"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_types"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("first_ts"), col("event_type")))),
          s => s.getField("event_type"))).as("type_seq"))
      .orderBy("user_id")

  /** As-of join (window formulation): each purchase matched to the most
    * recent click at-or-before it, per user. The classic union+running-max
    * shape — one sort, no join blowup, the scalable way to do as-of at
    * 100 TB (beyond the reference, which has no as-of operator). */
  def asofLag(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    // at equal ts, clicks sort before purchases so "at-or-before" holds
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "click", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    e.withColumn("last_click", max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        count(col("last_click")).as("n_matched"),
        sum(col("ts") - col("last_click")).as("total_lag_us"),
        max(col("ts") - col("last_click")).as("max_lag_us"))
      .orderBy("user_id")
  }

  /** CUBE aggregation: all grain combinations of (returnflag, linestatus)
    * (engine capability beyond the reference's flat GROUP BYs). */
  def cubeSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Relational pivot: per user-bucket counts of each event type as
    * columns (Spark's groupBy.pivot with an explicit value list, so no
    * extra distinct-values job runs). */
  def pivotCounts(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("int"))
      .groupBy("bucket")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(p)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("bucket")
  }

  /** ntile quartiles of event values per type: the frame-free ranking
    * window the reference never needed but an analytics engine must have. */
  def valueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    e.withColumn("q", ntile(4).over(w))
      .groupBy("event_type", "q")
      .agg(
        count(lit(1)).as("n"),
        min(col("value")).as("min_v"),
        max(col("value")).as("max_v"),
        dsum(col("value")).as("sum_v"))
      .orderBy("event_type", "q")
  }

  /** V8/V9 label leakage: % of each query's top-5 cosine neighbors that
    * share the query's label, averaged per label (embedding.py:699-910).
    * Fully SQL-expressible here because embeddings are data, not model
    * output. */
  def labelLeakage(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"), col("label"))
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 99L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("qlabel"))
    val c = emb.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("label").as("nlabel"))
    val knn = graft.operators.Similarity.topKExact(
      q.select("query_id", "qv"), c.select("neighbor_id", "nv"), 5)
    knn
      .join(q.select("query_id", "qlabel"), "query_id")
      .join(c.select("neighbor_id", "nlabel"), "neighbor_id")
      .groupBy(col("qlabel").cast("long").as("label"))
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        round(lit(100.0) * sum(when(col("qlabel") === col("nlabel"), 1).otherwise(0))
          / count(lit(1)), 4).as("same_label_pct"))
      .orderBy("label")
  }

  /** JSON property extraction: stats over a JSON-string column (S2's
    * schemaless-payload handling — metadata keys survive as JSON). */
  def jsonStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy("event_type")

  /** Validation check suite (F9/F10/F6): PK uniqueness, null keys, FK
    * cardinality + orphan detection, NaN/Inf — the whole battery as ONE
    * query with two exchanges, per-key checks sharing one keyed
    * aggregation ([[graft.validation.Validation]]; reference
    * checks.py:401-607). */
  def validationChecks(spark: SparkSession, dir: String): DataFrame = {
    import graft.validation.Validation
    import graft.validation.Validation.TableSpec
    val specs = Seq(
      TableSpec("orders",
        primaryKeys = Seq(Seq("o_orderkey")),
        foreignKeys = Seq(("o_custkey", "customer", "c_custkey")),
        idCols = Seq("o_orderkey", "o_custkey")),
      TableSpec("lineitem",
        primaryKeys = Seq(Seq("l_orderkey", "l_linenumber")),
        foreignKeys = Seq(("l_orderkey", "orders", "o_orderkey")),
        idCols = Seq("l_orderkey")),
      TableSpec("events", primaryKeys = Seq(Seq("event_id"))))
    val tables = Map(
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "events" -> Tables.events(spark, dir),
      "customer" -> Tables.customer(spark, dir))
    Validation.validateAll(tables, specs)
  }

  /** A15 series balance: per-series rollup + largest/smallest ratio
    * (reference balance.py:211-367; `source` plays the series role). */
  def seriesBalance(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perSeries = docs.groupBy(col("source").as("series"))
      .agg(
        count(lit(1)).as("doc_count"),
        countDistinct(col("lang")).as("lang_count"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(col("n_chars")), 2).as("avg_chars"))
    // corpus-wide total/extremes as a 1-row broadcast, not a global
    // window (which would run every series through one task)
    val totals = broadcast(perSeries.agg(
      sum(col("doc_count")).as("_total"),
      max(col("doc_count")).as("_max"),
      min(col("doc_count")).as("_min")))
    perSeries.crossJoin(totals)
      .withColumn("doc_percent",
        round(lit(100.0) * col("doc_count") / col("_total"), 2))
      .withColumn("balance_ratio",
        round(col("_max").cast("double") / col("_min"), 2))
      .select("series", "doc_count", "doc_percent", "lang_count",
        "total_chars", "avg_chars", "balance_ratio")
      .orderBy(col("doc_count").desc, col("series"))
  }

  /** Gopher-style quality-filter signals per language (MassiveText
    * rules): exact integer sums + one-division ratios, plus the count of
    * documents passing the full filter battery
    * ([[graft.operators.TextAnalysis.gopherSignals]]). */
  def qualitySignals(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherSignals(Tables.documents(spark, dir), col("text"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("total_words"),
        (sum(col("n_token_chars").cast("long")).cast("double")
          / sum(col("n_words").cast("long"))).as("avg_word_len"),
        (sum(col("n_alpha_words").cast("long")).cast("double")
          / sum(col("n_words").cast("long"))).as("alpha_frac"),
        sum(col("n_stopwords").cast("long")).as("total_stopwords"),
        sum(when(col("gopher_pass"), 1L).otherwise(0L)).as("n_pass"))
      .orderBy("lang")

  /** Repetition detection: top-10 documents by top-bigram mass — the
    * share of all word bigrams taken by the most frequent one
    * ([[graft.operators.TextAnalysis.topNgramMass]]). */
  def repetitionTop(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgramMass(Tables.documentsSpread(spark, dir), "doc_id", col("text"), 2)
      .select(col("doc_id"), col("n_grams"), col("top_gram"), col("top_n"),
        round(col("top_fraction"), 6).as("top_fraction"))
      .orderBy(col("top_fraction").desc, col("doc_id")).limit(10)

  /** PII-ish pattern counts over the events payloads (emails, phone-like
    * runs, digit density) — training-data hygiene counters. */
  def piiStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(TextAnalysis.emailCount(col("props")).cast("long")).as("email_matches"),
        sum(TextAnalysis.phoneCount(col("props")).cast("long")).as("phone_matches"),
        sum(TextAnalysis.digitCount(col("props")).cast("long")).as("digit_chars"),
        (sum(TextAnalysis.digitCount(col("props")).cast("long")).cast("double")
          / sum(length(col("props")).cast("long"))).as("digit_ratio"))
      .orderBy("event_type")

  /** X59 PII redaction audit (q53's apply form): emails/phones replaced
    * with placeholder tokens, per-type counts of affected rows and the
    * net length change. Map-only rewrite + one keyed agg. */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame = {
    val redacted = TextAnalysis.redactPii(col("props"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("props"), redacted.as("red"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("red") =!= col("props"), 1L).otherwise(0L)).as("n_redacted"),
        sum((length(col("red")) - length(col("props"))).cast("long")).as("len_delta"))
      .orderBy("event_type")
  }

  /** X66 latest-row-per-key (CDC log compaction as a query): each user's
    * most recent event by (ts, event_id) — the read-side form of MERGE's
    * last-wins rule. `max_by` over a lexicographic struct key instead of
    * a window top-1: the aggregate partial-merges map-side, so only one
    * candidate row per (task, user) reaches the shuffle where the window
    * form would shuffle-sort EVERY event of every user. */
  def latestPerKey(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("event_type"), col("value")),
        struct(col("ts"), col("event_id"))).as("r"))
      .select(col("user_id"), col("r.event_id").as("event_id"),
        col("r.ts").as("ts"), col("r.event_type").as("event_type"),
        round(col("r.value"), 6).as("value"))
      .orderBy("user_id")

  /** X64 typo-level near-dup over part names: DISTINCT names first (short-
    * string corpora repeat massively — 20k rows share 64 names at sf0.1,
    * so pairing raw rows squares a 400× redundancy), then blocked
    * edit-distance pairs (block = first name token), top-20 closest. */
  def editPairs(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .select(lower(col("p_name")).as("nm")).distinct()
    Dedup.editDistancePairs(names, "nm",
      col("nm"), split(col("nm"), " ").getItem(0), maxDist = 4)
      .orderBy(col("dist"), col("id_a"), col("id_b"))
      .limit(20)
  }

  /** X63 generic as-of join (latest signup value at each click): union +
    * one keyed window instead of a range join — |L|+|R| rows through one
    * shuffle-sort. Oracle: DuckDB's native ASOF JOIN. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    // dedupe the right side per (key, ts): two rights at the same instant
    // would make "the latest" ambiguous in BOTH engines
    val signups = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts").as("s_ts"))
      .agg(max(col("value")).as("signup_value"))
    operators.AsOf.join(clicks, signups, "user_id", "ts", "s_ts",
      payloadCols = Seq("signup_value"))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("asof_signup_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** X72 bigram collocations with PMI: top-20 most frequent word pairs
    * scored by pointwise mutual information from exact corpus counts —
    * the classic collocation-extraction operator. Ranking is by the
    * exact integer count (PMI is a derived display value), unigram
    * tables join keyed on the word. */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsSpread(spark, dir).select(TF.tokens(col("text")).as("tk"))
    val uni = toks.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("nw"))
    val totals = broadcast(uni.agg(
      sum(col("nw")).as("_tok_total"), count(lit(1)).as("_vocab")))
    val bi = toks.filter(size(col("tk")) >= 2)
      .select(explode(TF.wordShinglesOfTokens(col("tk"), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("nab"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val biTotal = broadcast(bi.agg(sum(col("nab")).as("_bi_total")))
    bi.join(uni.select(col("w").as("w1"), col("nw").as("na")), "w1")
      .join(uni.select(col("w").as("w2"), col("nw").as("nb")), "w2")
      .crossJoin(totals).crossJoin(biTotal)
      .withColumn("pmi", round(log(
        (col("nab").cast("double") / col("_bi_total")) /
          ((col("na").cast("double") / col("_tok_total")) *
            (col("nb").cast("double") / col("_tok_total")))), 6))
      .select(col("bg").as("bigram"), col("nab").as("n"), col("na"), col("nb"), col("pmi"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** X73 head coverage per language: the token share of the 10 most
    * frequent terms — the head-heaviness / Zipf-mass signal that flags
    * repetitive or templated languages. All-integer until one final
    * division; the ranking window runs over the vocabulary-sized term
    * table, not tokens. */
  def headCoverage(spark: SparkSession, dir: String): DataFrame = {
    val terms = Tables.documentsSpread(spark, dir)
      .select(col("lang"), explode(TF.tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("nw"))
    val w = Window.partitionBy("lang").orderBy(col("nw").desc, col("w"))
    val top = terms.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .groupBy("lang").agg(sum(col("nw")).as("top10_tokens"))
    val totals = terms.groupBy("lang").agg(sum(col("nw")).as("n_tokens"))
    totals.join(top, "lang")
      .withColumn("head_coverage",
        round(col("top10_tokens").cast("double") / col("n_tokens"), 6))
      .orderBy("lang")
  }

  /** X75 session-basket type affinity: association lift between event
    * types co-occurring in the same time-gap session (market-basket
    * analysis over the event stream). All counts exact; lift is one
    * double ratio of exact integers. The pair join is keyed on
    * (user, session) and types are a bounded vocabulary, so the pair
    * space is tiny. */
  def typeAffinity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val s = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapUs, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    // ONE session-keyed aggregation collects each session's distinct
    // types as a SORTED set; pairs explode map-side from the set suffix
    // (types sorted ⇒ a < b by construction) — r16, replacing the
    // distinct + session-keyed SELF-JOIN form, whose pair generation
    // re-shuffled the distinct frame onto (user, session) twice. The
    // per-session type-set is bounded by the event-type vocabulary, so
    // the explode is C(|types|, 2) per session — the same pair mass the
    // join emitted, now without a join. hash(user_id) from the window
    // already satisfies the (user, session) clustering, so the agg adds
    // no exchange.
    val sess = s.groupBy("user_id", "session_seq")
      .agg(sort_array(collect_set(col("event_type"))).as("types"))
    val nS = broadcast(sess.agg(count(lit(1)).as("n_sessions")))
    val perType = sess.select(explode(col("types")).as("event_type"))
      .groupBy("event_type").agg(count(lit(1)).as("n_t"))
    val pairs = sess
      .select(col("types"), posexplode(col("types")).as(Seq("_i", "type_a")))
      .select(col("type_a"),
        explode(slice(col("types"), col("_i") + lit(2),
          greatest(size(col("types")) - col("_i") - 1, lit(0)))).as("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("n_t").as("na"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("n_t").as("nb"))), "type_b")
      .crossJoin(nS)
      .withColumn("lift", round(
        (col("n_ab").cast("double") * col("n_sessions")) /
          (col("na").cast("double") * col("nb")), 6))
      .select("type_a", "type_b", "n_ab", "lift")
      .orderBy("type_a", "type_b")
  }

  /** X74 behavioral-diversity histogram: Shannon entropy of each user's
    * event-type mix, bucketed. Computed via the grouped-count identity
    * H = ln(N) − Σ nᵢ·ln(nᵢ)/N, which needs ONE scan and no driver
    * round-trip (the old shape collected the distinct type vocabulary
    * first, paying a second full pass, and widened the agg by one
    * conditional sum per type). Each per-type term is cast to
    * DECIMAL(20,12) before the per-user sum so the addition is
    * order-free — an aggregated double Σ would drift in the last ulp
    * cross-engine — and the plan is independent of the type cardinality:
    * a new event type in production is one more (user, type) row, not a
    * recompiled expression tree. */
  def userEntropy(spark: SparkSession, dir: String): DataFrame = {
    val perUT = Tables.events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val perUser = perUT.groupBy("user_id").agg(
      sum(col("n")).as("n_all"),
      sum((col("n").cast("double") * log(col("n").cast("double")))
        .cast("decimal(20,12)")).as("s"))
    val h = log(col("n_all").cast("double")) -
      col("s").cast("double") / col("n_all").cast("double")
    val binned = perUser.withColumn("h", h)
      .withColumn("bin", Stats.binIndex(col("h"), Seq(0.4, 0.8, 1.2, 1.6)))
    binned.groupBy("bin")
      .agg(
        count(lit(1)).as("n_users"),
        round((sum(col("h").cast("decimal(20,12)")).cast("double") / count(lit(1))), 6)
          .as("avg_entropy"))
      .orderBy("bin")
  }

  /** X77 leakage-safe group-aware split: every event of a user lands in
    * the same train/val/test split, so user-level signal can never leak
    * across the boundary (the group-wise analog of the reference's
    * episode-scoped dataset splits). Assignment is a map-only LCG
    * scramble of the group key — deterministic, engine-agnostic, no
    * shuffle beyond the one report agg. */
  def groupSplit(spark: SparkSession, dir: String): DataFrame = {
    val h = (col("user_id") * lit(1103515245L) + lit(12345L)) % lit(2147483647L)
    val s = Tables.events(spark, dir)
      .withColumn("split",
        when(h % 10 < 8, lit("train"))
          .when(h % 10 === 8, lit("val"))
          .otherwise(lit("test")))
    val tot = s.agg(count(lit(1)).as("n_all"))
    s.groupBy("split")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(tot))
      .withColumn("pct_events",
        round(col("n_events").cast("double") * 100 / col("n_all"), 6))
      .drop("n_all")
      .orderBy("split")
  }

  /** X78 unigram-LM fluency buckets ([[Corpus.perplexityBuckets]]). */
  def perplexityBuckets(spark: SparkSession, dir: String): DataFrame =
    Corpus.perplexityBuckets(Tables.documentsSpread(spark, dir))

  /** X119 bigram-LM cross-entropy per source ([[Corpus.bigramPerplexity]]). */
  def bigramPerplexity(spark: SparkSession, dir: String): DataFrame =
    Corpus.bigramPerplexity(Tables.documentsSpread(spark, dir))

  /** X79 DSIR importance weights ([[Corpus.importanceWeights]]). */
  def importanceWeights(spark: SparkSession, dir: String): DataFrame =
    Corpus.importanceWeights(Tables.documentsSpread(spark, dir))

  /** X80 p95 truncation audit ([[Corpus.truncationAudit]]). */
  def truncationAudit(spark: SparkSession, dir: String): DataFrame =
    Corpus.truncationAudit(Tables.documentsSpread(spark, dir))

  /** X81 SemDeDup over the embeddings table
    * ([[graft.operators.Similarity.semanticDedupHyperplane]]): per-vector
    * cluster assignment + keep flag. The sign-bit hyperplane quantizer
    * makes every stage SQL-recomputable, so q85 carries a FULL hash
    * oracle (cells → within-cell cosine pairs → recursive-CTE connected
    * components in DuckDB); the learned-cell IVF variant
    * ([[graft.operators.Similarity.semanticDedup]]) stays unit-gated in
    * SimilaritySpec, since sampled-kmeans centroids are not
    * SQL-recomputable. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity
      .semanticDedupHyperplane(Tables.embeddings(spark, dir),
        "vec_id", "embedding", threshold = 0.95, nPlanes = 4)
      .select(col("vec_id"), col("cluster_id"), col("keep"))
      .orderBy("vec_id")

  /** X82 sliding-window chunking audit ([[Corpus.chunkingStats]]). */
  def chunkingStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.chunkingStats(Tables.documentsSpread(spark, dir))

  /** X83 cross-corpus incremental dedup ([[Corpus.crossCorpusDedup]]). */
  def crossCorpusDedup(spark: SparkSession, dir: String): DataFrame =
    Corpus.crossCorpusDedup(Tables.documentsSpread(spark, dir))

  /** X85 embedding-space decontamination
    * ([[graft.operators.Similarity.decontamByEmbedding]]): vectors
    * vec_id < 20 stand in for the eval benchmark; any corpus vector
    * within cosine 0.35 of one is flagged with its closest eval item. */
  def embedDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), VF.vecAsDouble(col("embedding")).as("v"))
    val evalSet = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 19L)
      .select(col("vec_id").as("eval_id"), VF.vecAsDouble(col("embedding")).as("eval_vec"))
    graft.operators.Similarity
      .decontamByEmbedding(emb, evalSet, "vec_id", "v", tau = 0.35)
      .orderBy("vec_id")
  }

  /** X84 Misra–Gries heavy hitters
    * ([[graft.operators.TextAnalysis.heavyHitters]]). Capacity 64k far
    * exceeds the synthetic vocabulary, so the sketch runs in its exact
    * regime and the DuckDB top-20 is a hash-exact oracle; the sketch
    * bound (undercount ≤ N/(capacity+1)) is unit-tested separately. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.heavyHitters(Tables.documentsSpread(spark, dir))

  /** X86 PSI distribution-drift monitor: Population Stability Index of
    * each event type's value histogram, baseline (even event_id) vs
    * current (odd). Fixed bin edges, Laplace-smoothed shares over the
    * full type×bin grid so structurally-absent bins still contribute,
    * per-term DECIMAL(20,12) cast before the sum (order-free addition —
    * same device as q79). Everything after the first agg is
    * bins×types-sized. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val edges = Seq(0.0, 10.0, 25.0, 50.0, 100.0, 200.0)
    val nBins = edges.size
    val e = Tables.events(spark, dir)
      .withColumn("bin", Stats.binIndex(col("value"), edges))
      .withColumn("cur", pmod(col("event_id"), lit(2)) === 1)
    // bin = -1 (value below the first edge) must be excluded BEFORE the
    // totals agg: the oracle derives totals from the grid-joined frame
    // (bins 0..B-1 only), so a below-range value would diverge the
    // smoothed shares between engines if it reached `tot`.
    val counts = e.filter(col("bin") >= 0).groupBy("event_type", "bin").agg(
      sum(when(!col("cur"), 1L).otherwise(0L)).as("nb"),
      sum(when(col("cur"), 1L).otherwise(0L)).as("nc"))
    val grid = e.select("event_type").distinct()
      .crossJoin(spark.range(0, nBins.toLong).select(col("id").cast("int").as("bin")))
    val tot = counts.groupBy("event_type").agg(sum("nb").as("tb"), sum("nc").as("tc"))
    val full = grid.join(counts, Seq("event_type", "bin"), "left")
      .na.fill(0L, Seq("nb", "nc"))
      .join(broadcast(tot), "event_type")
    val pb = (col("nb").cast("double") + lit(0.5)) / (col("tb").cast("double") + lit(0.5 * nBins))
    val pc = (col("nc").cast("double") + lit(0.5)) / (col("tc").cast("double") + lit(0.5 * nBins))
    full.withColumn("term", (pc - pb) * log(pc / pb))
      .groupBy("event_type")
      .agg(max("tb").as("n_base"), max("tc").as("n_cur"),
        round(sum(col("term").cast("decimal(20,12)")).cast("double"), 6).as("psi"))
      .orderBy("event_type")
  }

  /** X87 deterministic weighted sampling ([[Corpus.weightedSample]]):
    * top-20 documents by the Efraimidis–Spirakis key, weight = n_chars. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Corpus.weightedSample(Tables.documents(spark, dir))

  /** X91 duplicated-substring spans ([[graft.operators.Dedup.duplicatedSpans]],
    * k=8): per-source audit of exactly-repeated ≥8-token regions — the
    * substring-level dedup signal of Lee et al. 2022, below whole-document
    * granularity. Docs shorter than k count in the totals with zero spans. */
  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val spans = graft.operators.Dedup.duplicatedSpans(docs, "doc_id", col("text"), k = 8)
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"), sum("span_tokens").as("dup_tokens"))
    docs
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "dup_tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_with_spans"),
        sum("n_spans").as("n_spans"),
        sum("dup_tokens").as("dup_tokens"),
        sum("n_tok").as("total_tokens"),
        round((lit(100.0) * sum("dup_tokens")) / sum("n_tok"), 6).as("dup_token_pct"))
      .orderBy("source")
  }

  /** X93 temperature-scaled source mixing ([[Corpus.temperatureMixture]]):
    * p_i ∝ √n_i sampling shares and per-source upsample factors. */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    Corpus.temperatureMixture(Tables.documents(spark, dir))

  /** X92 pairwise source-overlap matrix ([[Corpus.sourceOverlap]]):
    * exact bigram-vocabulary Jaccard per source pair, full grid. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Corpus.sourceOverlap(Tables.documentsSpread(spark, dir))

  /** X95 substring-level decontamination
    * ([[graft.operators.Dedup.contaminatedSpans]], k=6): per-source
    * share of training tokens lying inside a span that exactly repeats a
    * ≥6-token sequence from the eval slice (doc_id % 20 == 0, the same
    * benchmark convention as q57's whole-doc decontam). */
  def contamSpans(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val eval = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val spans = graft.operators.Dedup.contaminatedSpans(
      train, eval, "doc_id", col("text"), k = 6)
    val perDoc = spans.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans"), sum("span_tokens").as("contam_tokens"))
    train
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_spans", "contam_tokens"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_spans") > 0, 1L).otherwise(0L)).as("docs_contaminated"),
        sum("n_spans").as("n_spans"),
        sum("contam_tokens").as("contam_tokens"),
        sum("n_tok").as("total_tokens"),
        round((lit(100.0) * sum("contam_tokens")) / sum("n_tok"), 6)
          .as("contam_token_pct"))
      .orderBy("source")
  }

  /** X97 Naive Bayes quality classifier trained on the Gopher weak label
    * ([[TextAnalysis.nbQualityScores]]): the heuristic battery labels the
    * corpus, the closed-form classifier generalizes it to a graded
    * per-document score, and the per-source rollup reports how far the
    * learned signal agrees with the rule that taught it. */
  def nbQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
    val sig = TextAnalysis.gopherSignals(docs, col("text"))
    val scored = TextAnalysis.nbQualityScores(sig, "doc_id", col("text"), col("gopher_pass"))
    scored.join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("weak_label"), 1L).otherwise(0L)).as("n_weak_pass"),
        sum(when(col("predicted_pass"), 1L).otherwise(0L)).as("n_pred_pass"),
        round(lit(100.0) * sum(when(col("weak_label") === col("predicted_pass"), 1L)
          .otherwise(0L)) / count(lit(1)), 4).as("agreement_pct"),
        round(sum(col("score").cast("decimal(20,12)")).cast("double") / count(lit(1)), 6)
          .as("avg_score"))
      .orderBy("source")
  }

  /** X98 hard-negative mining over the labeled embedding table
    * ([[graft.operators.Similarity.hardNegatives]]): per query, the
    * top-5 most-similar vectors with a DIFFERENT label. */
  def hardNegativesQuery(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = Tables.readRange(spark, dir, "embeddings", "vec_id", Long.MinValue, 49L)
      .select(col("vec_id").as("query_id"), VF.vecAsDouble(col("embedding")).as("qv"),
        col("label").as("qlabel"))
    val c = emb.select(col("vec_id").as("neighbor_id"),
      VF.vecAsDouble(col("embedding")).as("nv"), col("label").as("nlabel"))
    graft.operators.Similarity.hardNegatives(q, c, 5)
      .orderBy("query_id", "rnk")
  }

  /** X99 per-source normalized-dedup audit
    * ([[graft.operators.Dedup.normalizedDupAudit]]). */
  def normDedupAudit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.normalizedDupAudit(
      Tables.documentsSpread(spark, dir), col("text"), col("source"))

  /** X100 dedup threshold-sweep audit over the q19 minhash pipeline
    * ([[graft.operators.Dedup.thresholdSweep]]): pairs generated once at
    * the banding threshold (0.5 — the sweep's floor, below which a
    * banded pipeline is incomplete), then the per-threshold tuning curve
    * from one pass over the verified pairs. */
  def thresholdSweepQuery(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(
      Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3, threshold = 0.5,
      maxBucket = Dedup.DefaultMaxBucket)
    Dedup.thresholdSweep(pairs, col("jac"), Seq(0.5, 0.6, 0.7, 0.8, 0.9))
  }

  /** X101 class-balanced downsample audit
    * ([[graft.operators.Corpus.balancedSample]]): at most 15 docs per
    * source, selected by the engine-portable Knuth multiplicative key, so
    * the oracle re-derives the EXACT kept set (kept_id_sum pins it). */
  def balancedSampleQuery(spark: SparkSession, dir: String): DataFrame =
    Corpus.balancedSample(Tables.documents(spark, dir), "doc_id",
      col("source"), cap = 15)

  /** X103 Zipf rank–frequency slope per source
    * ([[graft.operators.TextAnalysis.zipfAudit]]). */
  def zipfAuditQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.zipfAudit(
      Tables.documentsSpread(spark, dir), col("text"), col("source"), topK = 100)

  /** X125 chunk-stitch boundary audit ([[graft.operators.Dedup.chunkStitchAudit]]).
    * k=3 here: the synthetic corpus's 31-word vocabulary needs a short
    * boundary for the stitch regime to occur at sf0.01; production text
    * uses the k=8 default. */
  def chunkStitchQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.chunkStitchAudit(
      Tables.documentsSpread(spark, dir), col("text"), k = 3)

  /** X126 per-source length-distribution divergence ([[Corpus.lengthDivergence]]). */
  def lengthDivergenceQuery(spark: SparkSession, dir: String): DataFrame =
    Corpus.lengthDivergence(Tables.documentsSpread(spark, dir))

  /** X124 token-distribution divergence audit ([[Corpus.tokenDivergence]]). */
  def tokenDivergenceQuery(spark: SparkSession, dir: String): DataFrame =
    Corpus.tokenDivergence(Tables.documentsSpread(spark, dir))

  /** X127 duplicate-family size histogram + dedup yield forecast
    * ([[graft.operators.Dedup.dupFamilyStats]]). */
  def dupFamilyStatsQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dupFamilyStats(
      Tables.documentsSpread(spark, dir), col("text"))

  /** X128 Gopher-style composite quality-rule audit
    * ([[graft.operators.TextAnalysis.gopherRules]]). minWords=5 here: the
    * synthetic docs are short; production uses the paper's 50. */
  def gopherRulesQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.gopherRules(
      Tables.documentsSpread(spark, dir), col("text"), col("source"),
      minWords = 5)

  /** X129 composed end-to-end curation pipeline
    * ([[graft.pipeline.CuratePipeline]]): exact dedup → capped near-dup
    * best-keep → Gopher gate → benchmark decontamination → curriculum
    * sample → UniMax mixture → training shards, emitting one
    * (n_docs, n_tokens, id_sum) accounting row per stage. The oracle
    * replays the ENTIRE keep-decision chain in SQL, so the hash pins
    * every stage's exact kept multiset. */
  def curatePipelineQuery(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.CuratePipeline.accounting(
      graft.pipeline.CuratePipeline.stages(
        Tables.documentsSpread(spark, dir).select(
          col("doc_id"), col("text"), col("lang"), col("source"))))

  /** X130 incremental curate path
    * ([[graft.pipeline.CuratePipeline.incrementalStages]]): the full
    * chain runs on the doc_id%100≠7 side to derive the frozen
    * parameters, then the 1% delta replays the incremental
    * keep-decision semantics against them — banked norms win exact,
    * the combined-population banded index scores only delta-touching
    * pairs (existing docs win cross contests), frozen decile bounds
    * and UniMax epochs grade the tail stages. The oracle re-derives
    * BOTH sides in one SQL statement. */
  def incrementalCurateQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select(
      col("doc_id"), col("text"), col("lang"), col("source"))
    // bankNormFp: the full side's exact stage carries its 8-byte
    // fingerprints, so the banked-norms derivation is a column select
    val cfg = graft.pipeline.CurateConfig(bankNormFp = true)
    // the frozen derivation needs nothing past curriculum — upTo skips
    // materializing the full side's mixture and shards entirely; the
    // neardup stage's signature side channel derives the frozen index by
    // id filter instead of a second survivor shingle+minhash pass (r16)
    val (fullFrames, fullSigs) = graft.pipeline.CuratePipeline.stagesWithSigs(
      docs.filter(pmod(col("doc_id"), lit(100)) =!= 7), cfg,
      graft.pipeline.CuratePipeline.DefaultBarriers, upTo = "curriculum")
    val frozen = graft.pipeline.CuratePipeline.frozenFromStages(
      fullFrames, cfg, neardupSigs = fullSigs)
    graft.pipeline.CuratePipeline.accounting(
      graft.pipeline.CuratePipeline.incrementalStages(
        docs.filter(pmod(col("doc_id"), lit(100)) === 7), frozen, cfg))
  }

  /** X122 tokenizer fertility audit ([[graft.operators.TextAnalysis.fertilityAudit]]). */
  def fertilityAuditQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.fertilityAudit(Tables.documentsSpread(spark, dir))

  /** X123 char-entropy quality audit ([[graft.operators.TextAnalysis.charEntropyAudit]]). */
  def charEntropyQuery(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.charEntropyAudit(Tables.documentsSpread(spark, dir))

  /** X104 LSH bucket audit ([[graft.operators.Dedup.minhashBucketAudit]]):
    * the flagged accounting behind q19's band-bucket cap — per band, the
    * bucket count, how many buckets the cap skips, the rows and
    * candidate-pair mass inside them. */
  def lshBucketAuditQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashBucketAudit(
      Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3,
      maxBucket = Dedup.DefaultMaxBucket)

  /** X105 exact-dup pre-collapsed near-dup pairs
    * ([[graft.operators.Dedup.minhashNearDups]] with `preCollapse`): the
    * identical-shingle-set families collapse to one representative each
    * before banding and re-expand after verification. The oracle replays
    * the collapse + capped chain + expansion independently, so the
    * optimization's output contract is hash-proven, not asserted. */
  def preCollapseNearDupQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(
        Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text")),
        "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3, threshold = 0.5,
        maxBucket = Dedup.DefaultMaxBucket, preCollapse = true)
      .orderBy("id_a", "id_b")

  /** X106 source-centroid similarity matrix
    * ([[graft.operators.Similarity.groupCentroidSimilarity]]): embeddings
    * joined to their documents' source, pairwise cosine between
    * per-source centroid (sum) vectors. */
  def sourceCentroidSimQuery(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    graft.operators.Similarity.groupCentroidSimilarity(
      joined, col("source"), col("embedding"))
  }

  /** X108 incremental near-dup ([[graft.operators.Dedup.nearDupIndex]] +
    * [[graft.operators.Dedup.incrementalNearDups]]): the corpus splits
    * into a "previously indexed" base (doc_id % 5 ≠ 0) and an arriving
    * delta batch; only pairs touching the delta are generated and
    * verified, against the base's persisted-shape index. The oracle runs
    * the FULL capped chain and keeps pairs with a delta side — the
    * incremental plan must reproduce the full run's answer exactly
    * without ever forming a base×base candidate. */
  def incrementalDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text"))
    val index = Dedup.nearDupIndex(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", col("text"), shingleWords = 2, k = 12)
    Dedup.incrementalNearDups(index, docs.filter(col("doc_id") % 5 === 0),
        "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3,
        threshold = 0.5, maxBucket = Dedup.DefaultMaxBucket)
      .orderBy("id_a", "id_b")
  }

  /** X111 within-source embedding dispersion
    * ([[graft.operators.Similarity.groupDispersion]]): exact mean
    * pairwise squared distance per source without forming pairs —
    * n·Σ‖x‖² − ‖Σx‖² over decimal-exact sums. */
  def sourceDispersionQuery(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .join(Tables.documents(spark, dir)
        .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
    graft.operators.Similarity.groupDispersion(
      joined, col("source"), col("embedding"))
  }

  /** X109 UniMax epoch-capped mixture allocation
    * ([[graft.operators.Corpus.unimaxAllocation]]): the token budget is
    * 1.25× the corpus, no source may repeat past 1.4 epochs — small
    * sources bind at their cap, the rest split the remainder at the
    * water level. The oracle replays the closed-form water-filling
    * (sorted-prefix f(r) ≤ budget test) independently in SQL. */
  def unimaxQuery(spark: SparkSession, dir: String): DataFrame =
    Corpus.unimaxAllocation(Tables.documentsSpread(spark, dir),
      col("source"), TF.tokenCount(col("text")),
      budgetFrac = 1.25, maxEpochs = 1.4)

  /** X112 quality-priority cluster representative
    * ([[graft.operators.Dedup.dedupByClusterBest]]): the q54 capped
    * minhash chain's clusters, keeping the LONGEST member per cluster
    * (token count as the quality score, ties to min id) instead of the
    * arbitrary min-id. Per-source retention audit with a kept-id
    * checksum so the oracle pins the EXACT kept set — the recursive-CTE
    * oracle replays clusters + argmax independently. */
  def bestDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsSpread(spark, dir)
      .select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).as("n_tok"), col("text"))
    val pairs = Dedup.minhashNearDups(docs.select(col("doc_id"), col("text")),
      "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3,
      threshold = 0.5, maxBucket = Dedup.DefaultMaxBucket)
    val kept = Dedup.dedupByClusterBest(docs.drop("text"), "doc_id",
      pairs.select("id_a", "id_b"), col("n_tok"))
    val before = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val after = kept.groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("kept_id_sum"))
    before.join(after, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("kept_id_sum"))
      .orderBy("source")
  }

  /** X113 train/heldout split-leakage audit
    * ([[graft.operators.Dedup.splitLeakage]]): deterministic LCG split,
    * 8-token rolling-hash grams, per-source heldout contamination rate
    * against the train side's distinct-gram set. */
  def splitLeakageQuery(spark: SparkSession, dir: String): DataFrame =
    Dedup.splitLeakage(Tables.documentsSpread(spark, dir), "doc_id",
      col("text"), col("source"), k = 8)

  /** X114 reproducible training-shard audit
    * ([[graft.operators.Corpus.shardAudit]]): the deterministic Knuth
    * scramble assigns every doc to one of 16 shards; the audit pins each
    * shard's membership with an id-sum checksum, so the oracle's
    * re-derived assignment must agree doc-for-doc. */
  def shardAuditQuery(spark: SparkSession, dir: String): DataFrame =
    Corpus.shardAudit(Tables.documentsSpread(spark, dir), "doc_id",
      col("text"), nShards = 16)

  /** Multimodal pipeline audit (M-family,
    * [[graft.multimodal.Multimodal]]): a deterministic media table
    * synthesized from the documents corpus (payload = text bytes,
    * media_type cycling image/audio/video) runs the full binary-column
    * pipeline — batched stub decode via mapPartitions, perceptual
    * difference-hash, pigeonhole-banded near-dup pairs blocked by
    * media_type — and reports one audit row per media_type: assets,
    * distinct fingerprints, near-dup pairs, and an ORDER-FREE content
    * checksum (bit_xor of the perceptual hashes). No SQL oracle (the
    * decode stub is JVM-side by design — the documented class of non-SQL
    * operators), so the driver records a rows-only check; the checksum
    * column makes those rows content-bearing anyway: MultimodalSpec pins
    * the full sf0.01 output (counts AND phash_xor) as golden values, the
    * deterministic-decode equivalent of a hash gate. Exact-dup documents
    * collapse to identical fingerprints, so the pair count is driven by
    * the corpus's real duplicate mass, not noise. */
  def mediaPipelineQuery(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documentsSpread(spark, dir).select(
      col("doc_id").cast("string").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("content"))
    val feats = graft.multimodal.Multimodal.extractFeatures(media, dim = 64)
    val hashed = graft.multimodal.Multimodal.perceptualHash(feats)
      .localCheckpoint(false) // decode once: feeds both the audit and the pair join
    val pairs = graft.operators.Dedup.simhashNearDupPairs(
      hashed, "asset_id", "phash", blockCols = Seq("media_type"),
      maxDist = 4, bits = 63)
    val perType = hashed.groupBy("media_type")
      .agg(count(lit(1)).as("n_assets"),
        countDistinct(col("phash")).as("n_fingerprints"),
        expr("bit_xor(phash)").as("phash_xor"))
    val pairCounts = pairs.groupBy("media_type")
      .agg(count(lit(1)).as("n_neardup_pairs"))
    perType.join(pairCounts, Seq("media_type"), "left")
      .select(col("media_type"), col("n_assets"), col("n_fingerprints"),
        coalesce(col("n_neardup_pairs"), lit(0L)).as("n_neardup_pairs"),
        col("phash_xor"))
      .orderBy("media_type")
  }

  /** X60 per-source duplication rate ([[Corpus.sourceDupRates]]). */
  def sourceDupRates(spark: SparkSession, dir: String): DataFrame =
    Corpus.sourceDupRates(Tables.documents(spark, dir))

  /** X61 cross-language contamination ([[Corpus.crossLangContent]]). */
  def crossLangContent(spark: SparkSession, dir: String): DataFrame =
    Corpus.crossLangContent(Tables.documentsSpread(spark, dir))

  /** X68 per-source type-token ratio ([[Corpus.typeTokenRatio]]). */
  def typeTokenRatio(spark: SparkSession, dir: String): DataFrame =
    Corpus.typeTokenRatio(Tables.documentsSpread(spark, dir))

  /** X69 per-source bigram novelty ([[Corpus.sourceNovelty]]). */
  def sourceNovelty(spark: SparkSession, dir: String): DataFrame =
    Corpus.sourceNovelty(Tables.documentsSpread(spark, dir))

  /** X62 per-source length-distribution drift: chi-square of each
    * source's token-length histogram against the corpus-wide
    * distribution over shared fixed edges — the distribution-shift
    * monitor for incoming crawl slices. Expected counts derive from a
    * broadcast corpus histogram; the statistic is one exact double sum
    * per source. */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame = {
    val edges = Seq(10.0, 20.0, 30.0, 40.0, 50.0)
    val binned = Tables.documents(spark, dir)
      .select(col("source"), TF.tokenCount(col("text")).cast("double").as("ntok"))
      .withColumn("bin", Stats.binIndex(col("ntok"), edges))
    val perSource = binned.groupBy("source", "bin").agg(count(lit(1)).as("n"))
    val corpus = broadcast(binned.groupBy("bin").agg(count(lit(1)).as("n_total")))
    val totals = broadcast(binned.groupBy("source").agg(count(lit(1)).as("n_source"))
      .crossJoin(binned.agg(count(lit(1)).as("n_all"))))
    perSource.join(corpus, "bin").join(totals, "source")
      .withColumn("expected",
        col("n_total").cast("double") * col("n_source") / col("n_all"))
      .withColumn("term",
        (col("n").cast("double") - col("expected")) *
          (col("n").cast("double") - col("expected")) / col("expected"))
      .groupBy("source")
      .agg(
        max(col("n_source")).as("n_docs"),
        round(sum(col("term").cast("decimal(20,12)")).cast("double"), 6).as("chi_square"))
      .orderBy("source")
  }

  /** Near-dup corpus dedup rollup: MinHash pairs → connected components
    * (min-label propagation, [[graft.operators.Dedup.nearDupClusters]]) →
    * per-cluster member counts. The oracle replays the component closure
    * with a recursive CTE over the same pair pipeline. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDups(
      Tables.documentsSpread(spark, dir).select(col("doc_id"), col("text")),
      "doc_id", col("text"), shingleWords = 2, k = 12, bands = 3, threshold = 0.5,
      maxBucket = Dedup.DefaultMaxBucket)
    Dedup.nearDupClusters(pairs.select("id_a", "id_b"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")
  }

  // ---- driver contract ----------------------------------------------

  // ---- corpus-curation operators (X32-X37, operators/Corpus.scala) ----

  /** X32 benchmark decontamination (word-3-gram overlap vs the
    * doc_id%20==0 benchmark slice; broadcast semi-join). */
  def decontamination(spark: SparkSession, dir: String): DataFrame =
    Corpus.decontaminationStats(Tables.documents(spark, dir))

  /** X33 quality-decile curriculum sampling (per-lang ntile + poly-hash
    * deterministic keep). */
  def curriculumDeciles(spark: SparkSession, dir: String): DataFrame =
    Corpus.curriculumDeciles(Tables.documentsSpread(spark, dir))

  /** X34 domain-mixture reweighting (uniform target, capped weights). */
  def mixtureWeights(spark: SparkSession, dir: String): DataFrame =
    Corpus.mixtureWeights(Tables.documents(spark, dir))

  /** X35 boilerplate word-bigram stats (df > 25% of docs ⇒ boilerplate). */
  def boilerplateStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.boilerplateStats(Tables.documentsSpread(spark, dir))

  /** X36 top-5 TF-IDF terms per language (distinct+count df, no Expand). */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    Corpus.tfidfTopTerms(Tables.documentsSpread(spark, dir))

  /** X37 token-budget sequence-packing stats (512-token packs). */
  def packingStats(spark: SparkSession, dir: String): DataFrame =
    Corpus.packingStats(Tables.documents(spark, dir))

  /** X47 weekly cohort retention over the event stream: users grouped by
    * first-activity week, counted once per (cohort, offset) week they
    * return. Distinct-then-count at both steps (no count_distinct
    * Expand); cohort sizes ride back in as a broadcast. All day/week
    * arithmetic in integer µs-derived day numbers, exact cross-engine. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val day = floor(col("ts") / lit(86400000000L)).cast("long")
    val e = Tables.events(spark, dir).select(col("user_id"), day.as("day")).distinct()
    val firsts = e.groupBy("user_id").agg(min(col("day")).as("first_day"))
    val active = e.join(firsts, "user_id")
      .select(col("user_id"),
        floor(col("first_day") / 7).cast("long").as("cohort_week"),
        floor((col("day") - col("first_day")) / 7).cast("long").as("offset_week"))
      .distinct()
    val counts = active.groupBy("cohort_week", "offset_week")
      .agg(count(lit(1)).as("n_users"))
    val sizes = firsts
      .select(floor(col("first_day") / 7).cast("long").as("cohort_week"))
      .groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    counts.join(broadcast(sizes), "cohort_week")
      .withColumn("retention_pct",
        round(lit(100.0) * col("n_users") / col("cohort_size"), 4))
      .select("cohort_week", "offset_week", "n_users", "cohort_size", "retention_pct")
      .orderBy("cohort_week", "offset_week")
  }

  /** X48 ordered funnel (signup → view → click → purchase by FIRST
    * occurrence time per user): one conditional-min agg per user, one
    * global 1-row agg, exploded into stage rows — no self-joins, no
    * windows. */
  def funnelStages(spark: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) = min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val perUser = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(firstOf("signup"), firstOf("view"), firstOf("click"), firstOf("purchase"))
    val s1 = col("t_signup").isNotNull
    val s2 = s1 && col("t_view") > col("t_signup")
    val s3 = s2 && col("t_click") > col("t_view")
    val s4 = s3 && col("t_purchase") > col("t_click")
    val one = perUser.agg(
      sum(when(s1, 1L).otherwise(0L)).as("n1"),
      sum(when(s2, 1L).otherwise(0L)).as("n2"),
      sum(when(s3, 1L).otherwise(0L)).as("n3"),
      sum(when(s4, 1L).otherwise(0L)).as("n4"))
    one.select(explode(array(
      struct(lit(1).as("stage"), lit("signup").as("name"),
        col("n1").as("n_users"), lit(1.0).as("pct_of_entry")),
      struct(lit(2).as("stage"), lit("view_after_signup").as("name"),
        col("n2").as("n_users"), round(col("n2").cast("double") / col("n1"), 6).as("pct_of_entry")),
      struct(lit(3).as("stage"), lit("click_after_view").as("name"),
        col("n3").as("n_users"), round(col("n3").cast("double") / col("n1"), 6).as("pct_of_entry")),
      struct(lit(4).as("stage"), lit("purchase_after_click").as("name"),
        col("n4").as("n_users"), round(col("n4").cast("double") / col("n1"), 6).as("pct_of_entry"))
    )).as("s")).select("s.*").orderBy("stage")
  }

  /** X49 rolling 7-day trailing aggregates: pre-aggregate to (type, day)
    * FIRST — the RANGE-frame window then runs over the tiny daily frame,
    * not the raw events, so the per-type partition is never a hot key.
    * The windowed sum stays in DECIMAL until the end (a double window sum
    * would be frame-order-dependent cross-engine). */
  def rollingDaily(spark: SparkSession, dir: String): DataFrame = {
    val day = floor(col("ts") / lit(86400000000L)).cast("long")
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), day.as("day"))
      .agg(sum(dec2(col("value"))).as("_dv"), count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    daily
      .withColumn("rolling_7d_value", sum(col("_dv")).over(w).cast("double"))
      .withColumn("rolling_7d_events", sum(col("n")).over(w))
      .select(col("event_type"), col("day"), col("_dv").cast("double").as("day_value"),
        col("n"), col("rolling_7d_value"), col("rolling_7d_events"))
      .orderBy("event_type", "day")
  }

  /** X56 event-type transition matrix (first-order Markov counts): lag
    * over each user's time-ordered stream, then one keyed count and a
    * per-source broadcast-free probability via a partitioned window over
    * the TINY (type × type) matrix. */
  def typeTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
    val counts = pairs.groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy("prev_type")
    counts
      .withColumn("p", round(col("n").cast("double") / sum(col("n")).over(wt), 6))
      .select(col("prev_type"), col("event_type").as("next_type"), col("n"), col("p"))
      .orderBy("prev_type", "next_type")
  }

  /** X42 int8 quantization error audit: per-label RMS reconstruction
    * error and scale of the symmetric int8 scheme ([[VF.quantizeInt8]]).
    * Map-only over the embedding store; the residual's sum-of-squares is
    * a dot product with itself so the oracle sums in the same order. */
  def quantizationError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("label"), VF.vecAsDouble(col("embedding")).as("v"))
      .withColumn("scale", VF.int8Scale(col("v")))
      .filter(col("scale").isNotNull)
    val dq = VF.dequantizeInt8(VF.quantizeInt8(col("v"), col("scale")), col("scale"))
    val resid = zip_with(col("v"), dq, (a, b) => a - b)
    val scored = e
      .withColumn("rmse", round(sqrt(VF.dot(resid, resid) / size(col("v"))), 6))
      .withColumn("scale_r", round(col("scale"), 6))
    scored.groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        (sum(col("rmse").cast("decimal(20,12)")).cast("double") / count(lit(1)))
          .as("avg_rmse"),
        max(col("rmse")).as("max_rmse"),
        (sum(col("scale_r").cast("decimal(20,12)")).cast("double") / count(lit(1)))
          .as("avg_scale"))
      .orderBy("label")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> pricingSummary _,
    "q02_entity_catalog" -> entityCatalog _,
    "q03_activity_catalog" -> activityCatalog _,
    "q04_sessions" -> sessions _,
    "q05_interval_union" -> intervalUnion _,
    "q06_gap_stats" -> gapStats _,
    "q07_value_stats" -> valueStats _,
    "q08_value_histogram" -> valueHistogram _,
    "q09_dedup_stats" -> dedupStats _,
    "q10_top_terms" -> topTerms _,
    "q11_user_share" -> userShare _,
    "q12_region_rollup" -> regionRollup _,
    "q13_cust_without_orders" -> custWithoutOrders _,
    "q14_cust_with_orders" -> custWithOrders _,
    "q15_text_metrics" -> textMetrics _,
    "q16_lexical_density" -> lexicalDensity _,
    "q17_overlap_pairs" -> overlapPairs _,
    "q18_knn_exact" -> knnExact _,
    "q19_minhash_neardup" -> minhashNearDup _,
    "q20_simhash_fp" -> simhashFingerprints _,
    "q21_simhash_pairs" -> simhashPairStats _,
    "q22_jaccard_topk" -> jaccardTopPairs _,
    "q23_embedding_pairs" -> embeddingTopPairs _,
    "q24_doc_quality" -> docQuality _,
    "q25_token_counts" -> tokenCounts _,
    "q26_fingerprints" -> docFingerprints _,
    "q27_langid" -> langIdConfusion _,
    "q28_session_stats" -> sessionStats _,
    "q29_stratified_sample" -> stratifiedSample _,
    "q30_correlations" -> correlations _,
    "q31_adjacency" -> adjacencyCounts _,
    "q32_rollup" -> rollupSummary _,
    "q33_running_aggs" -> runningAggregates _,
    "q34_embedding_stats" -> embeddingStats _,
    "q35_length_bias" -> lengthBias _,
    "q36_validation_split" -> validationSplit _,
    "q37_monotonicity" -> monotonicity _,
    "q38_length_compliance" -> lengthCompliance _,
    "q39_punct_ratio" -> punctRatio _,
    "q40_date_rollup" -> dateRollup _,
    "q41_weighted_share" -> weightedShare _,
    "q42_type_sequence" -> typeSequence _,
    "q43_asof_lag" -> asofLag _,
    "q44_cube" -> cubeSummary _,
    "q45_pivot_counts" -> pivotCounts _,
    "q46_value_quartiles" -> valueQuartiles _,
    "q47_label_leakage" -> labelLeakage _,
    "q48_json_stats" -> jsonStats _,
    "q49_validation_checks" -> validationChecks _,
    "q50_series_balance" -> seriesBalance _,
    "q51_quality_signals" -> qualitySignals _,
    "q52_repetition" -> repetitionTop _,
    "q53_pii_stats" -> piiStats _,
    "q54_dedup_clusters" -> dedupClusters _,
    "q55_top_bigrams" -> topBigrams _,
    "q56_knn_ivf" -> knnIvf _,
    "q57_decontamination" -> decontamination _,
    "q58_curriculum_deciles" -> curriculumDeciles _,
    "q59_domain_mixture" -> mixtureWeights _,
    "q60_boilerplate" -> boilerplateStats _,
    "q61_tfidf_terms" -> tfidfTopTerms _,
    "q62_packing_stats" -> packingStats _,
    "q63_quantization" -> quantizationError _,
    "q64_retention" -> cohortRetention _,
    "q65_funnel" -> funnelStages _,
    "q66_rolling_daily" -> rollingDaily _,
    "q67_transitions" -> typeTransitions _,
    "q68_pii_redaction" -> piiRedaction _,
    "q69_source_dup_rates" -> sourceDupRates _,
    "q70_cross_lang" -> crossLangContent _,
    "q71_source_drift" -> sourceDrift _,
    "q72_asof_join" -> asofJoin _,
    "q73_edit_pairs" -> editPairs _,
    "q74_latest_per_key" -> latestPerKey _,
    "q75_type_token" -> typeTokenRatio _,
    "q76_source_novelty" -> sourceNovelty _,
    "q77_collocations" -> collocations _,
    "q78_head_coverage" -> headCoverage _,
    "q79_user_entropy" -> userEntropy _,
    "q80_type_affinity" -> typeAffinity _,
    "q81_group_split" -> groupSplit _,
    "q82_perplexity_buckets" -> perplexityBuckets _,
    "q83_importance_weights" -> importanceWeights _,
    "q84_truncation_audit" -> truncationAudit _,
    "q85_semantic_dedup" -> semanticDedup _,
    "q86_chunking_stats" -> chunkingStats _,
    "q87_cross_corpus_dedup" -> crossCorpusDedup _,
    "q88_embed_decontam" -> embedDecontam _,
    "q89_heavy_hitters" -> heavyHitters _,
    "q90_psi_drift" -> psiDrift _,
    "q91_weighted_sample" -> weightedSample _,
    "q92_repeated_spans" -> repeatedSpans _,
    "q93_temp_mixture" -> temperatureMixture _,
    "q94_source_overlap" -> sourceOverlap _,
    "q95_contam_spans" -> contamSpans _,
    "q96_nb_quality" -> nbQuality _,
    "q97_hard_negatives" -> hardNegativesQuery _,
    "q98_norm_dedup" -> normDedupAudit _,
    "q99_threshold_sweep" -> thresholdSweepQuery _,
    "q100_balanced_sample" -> balancedSampleQuery _,
    "q101_zipf_audit" -> zipfAuditQuery _,
    "q102_lsh_bucket_audit" -> lshBucketAuditQuery _,
    "q103_precollapse_neardup" -> preCollapseNearDupQuery _,
    "q104_source_centroids" -> sourceCentroidSimQuery _,
    "q105_incremental_dedup" -> incrementalDedupQuery _,
    "q106_unimax_mixture" -> unimaxQuery _,
    "q107_source_dispersion" -> sourceDispersionQuery _,
    "q108_best_dedup" -> bestDedupQuery _,
    "q109_split_leakage" -> splitLeakageQuery _,
    "q110_shard_audit" -> shardAuditQuery _,
    "q111_media_pipeline" -> mediaPipelineQuery _,
    "q112_collapsed_pairs" -> embeddingTopPairsCollapsed _,
    "q113_collapsed_jaccard" -> jaccardTopPairsCollapsed _,
    "q114_bigram_perplexity" -> bigramPerplexity _,
    "q115_fertility" -> fertilityAuditQuery _,
    "q116_char_entropy" -> charEntropyQuery _,
    "q117_token_divergence" -> tokenDivergenceQuery _,
    "q118_chunk_stitch" -> chunkStitchQuery _,
    "q119_length_divergence" -> lengthDivergenceQuery _,
    "q120_dup_families" -> dupFamilyStatsQuery _,
    "q121_gopher_rules" -> gopherRulesQuery _,
    "q122_curate_pipeline" -> curatePipelineQuery _,
    "q123_incremental_curate" -> incrementalCurateQuery _,
    "q124_knn_hnsw" -> knnHnsw _,
    "q125_knn_hnsw_pq" -> knnHnswPq _,
  )

  private val stopwordsSqlList: String =
    TF.stopwords.map(s => s"'$s'").mkString("(", ", ", ")")

  private val gopherStopSql: String =
    graft.operators.TextAnalysis.GopherStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")

  // -- DuckDB fragments shared across generated oracles ----------------
  private val toksSql = """list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)"""
  private val contentToksSql = s"list_filter($toksSql, u -> u NOT IN $stopwordsSqlList)"
  private val normTextSql = """lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"""
  private def ph(e: String): String = Hashes.polyHashSql(e)
  private def ph2(e: String): String = Hashes.polyHash2Sql(e)

  /** q19 oracle: the full MinHash pipeline replayed in SQL (same affine
    * slot-hash family as [[Dedup.affineA]]/[[Dedup.affineB]], same k=12
    * in 3 bands of 4 as the Spark side). */
  private def minhashOracleSql: String =
    s"""WITH $minhashCtesSql
       |SELECT id_a, id_b, jac FROM verified WHERE jac >= 0.5 ORDER BY id_a, id_b""".stripMargin

  /** The minhash chain hsh→sig→bands→(bucket cap)→cand→verified over a
    * (doc_id, sh) relation named `toksRel`, every CTE name prefixed with
    * `p` so the chain can run twice in one query (q103 runs it over
    * collapsed representatives). The `HAVING count(*) <= maxBucket`
    * bucket filter mirrors [[Dedup.candidatePairs]]'s skip-and-flag cap
    * exactly — capped Spark pipelines stay hash-checked at every sf. */
  private def minhashChainCtes(toksRel: String, p: String): String = {
    val (k, bands) = (12, 3)
    val r = k / bands
    val sigExprs = (0 until k)
      .map(i => s"list_min(list_transform(hs, h -> (h * ${Dedup.affineA(i)} + ${Dedup.affineB(i)}) % ${Hashes.PolyMod})) AS m$i")
      .mkString(",\n    ")
    val bandSelects = (0 until bands)
      .map(b => s"SELECT doc_id, $b AS band_id, concat_ws(',', ${(0 until r).map(j => s"m${r * b + j}").mkString(", ")}) AS band_key FROM ${p}sig")
      .mkString("\n  UNION ALL\n  ")
    s"""${p}hsh AS (
       |  SELECT doc_id, list_transform(sh, s -> ${ph("s")}) AS hs FROM $toksRel
       |), ${p}sig AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM ${p}hsh
       |), ${p}bands AS (
       |  $bandSelects
       |), ${p}bok AS (
       |  SELECT band_id, band_key FROM ${p}bands
       |  GROUP BY band_id, band_key HAVING count(*) <= ${Dedup.DefaultMaxBucket}
       |), ${p}bf AS (
       |  SELECT b.doc_id, b.band_id, b.band_key
       |  FROM ${p}bands b JOIN ${p}bok USING (band_id, band_key)
       |), ${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${p}bf a JOIN ${p}bf b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |), ${p}verified AS (
       |  SELECT c.id_a, c.id_b,
       |    CAST(len(list_intersect(ta.sh, tb.sh)) AS DOUBLE)
       |      / (len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh))) AS jac
       |  FROM ${p}cand c
       |  JOIN $toksRel ta ON ta.doc_id = c.id_a
       |  JOIN $toksRel tb ON tb.doc_id = c.id_b
       |)""".stripMargin
  }

  /** The minhash pipeline's CTE chain (ends with `verified(id_a,id_b,jac)`),
    * shared by the q19, q54 and q99 oracles. */
  private def minhashCtesSql: String =
    s"""t0 AS (
       |  SELECT doc_id, $toksSql AS tk FROM documents
       |), toks AS (
       |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
       |), ${minhashChainCtes("toks", "")}""".stripMargin

  /** q87's cross-corpus dedup oracle over a (possibly restricted)
    * documents relation — `where` is an optional `WHERE …` suffix for t0.
    * Shared by the full oracle and the ladder's sampled variant
    * ([[sampledOracleSql]]), so the two can never drift apart. */
  private def crossCorpusSql(where: String): String =
    s"""WITH t0 AS (
      |  SELECT doc_id, source, $toksSql AS tk FROM documents$where
      |), d AS (
      |  SELECT doc_id, source, list_distinct($trigramsFromTkSql) AS grams
      |  FROM t0
      |), gx AS (
      |  SELECT doc_id, unnest(grams) AS gm FROM d WHERE len(grams) > 0
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_base
      |  FROM gx a JOIN gx b USING (gm)
      |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
      |), ver AS (
      |  SELECT DISTINCT c.id_new
      |  FROM cand c
      |  JOIN d da ON da.doc_id = c.id_new
      |  JOIN d db ON db.doc_id = c.id_base
      |  WHERE CAST(len(list_intersect(da.grams, db.grams)) AS DOUBLE)
      |    / (len(da.grams) + len(db.grams)
      |       - len(list_intersect(da.grams, db.grams))) >= 0.5
      |)
      |SELECT d.source, count(*) AS n_new,
      |  CAST(sum(CASE WHEN ver.id_new IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  round(CAST(sum(CASE WHEN ver.id_new IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS drop_rate
      |FROM d LEFT JOIN ver ON d.doc_id = ver.id_new
      |WHERE d.doc_id % 2 = 1
      |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** O(k)-sampled oracles for the ladder scale factors where the full
    * q22/q87/q113 DuckDB oracles are quadratic SQL (VERDICT r10,
    * What's-wrong #3). Devices, per query family:
    *
    *  - `q22_reported_values` (shared by q113 — same output contract):
    *    recompute the exact bigram jaccard of EXACTLY the k reported
    *    pairs, read from a `reported(lang,id_a,id_b,jac)` table the
    *    checker registers from the Spark output parquet — O(k·doc);
    *    compared value-exact against the Spark rows.
    *  - `q22_boundary_exact`: valid when the worst reported jac is 1.0
    *    (the replica-ladder regime) — any dominating pair must then have
    *    jac exactly 1.0, i.e. IDENTICAL distinct-shingle sets, so the
    *    shingle-set collapse enumerates ALL such pairs exactly (family
    *    count is corpus-linear; pair mass exists only within families).
    *    A COMPLETE boundary proof: expect zero unreported pairs ordered
    *    before ({worst_ida}, {worst_idb}).
    *  - `q22_boundary_screen`: general-jac fallback — candidates from
    *    the same capped banded chain as q19, kept when they beat
    *    ({worst_jac}, {worst_ida}, {worst_idb}) in (jac DESC, id ASC)
    *    order; per-pair screen recall 1−(1−j⁴)³ at j = worst jac.
    *  - `q87_sampled`: re-runs q87's aggregate with the NEW side
    *    restricted to the doc_id%101==7 sliver (base corpus intact) —
    *    the SAME restriction [[graft.tools.SampledCheck]] applies on the
    *    Spark side, so the comparison is exact on the sampled aggregate
    *    at ~1% of the quadratic candidate mass.
    *
    * `{worst_jac}`/`{worst_ida}`/`{worst_idb}` are filled in by
    * tools/make_correctness_sf.py from the reported rows. */
  def sampledOracleSql: Map[String, String] = Map(
    "q22_reported_values" ->
      s"""WITH ids AS (
        |  SELECT id_a AS doc_id FROM reported UNION SELECT id_b FROM reported
        |), t0 AS (
        |  SELECT lang, doc_id, $toksSql AS tk FROM documents JOIN ids USING (doc_id)
        |), d AS (
        |  SELECT lang, doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
        |)
        |SELECT a.lang AS lang, r.id_a, r.id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |FROM reported r
        |JOIN d a ON a.doc_id = r.id_a
        |JOIN d b ON b.doc_id = r.id_b AND b.lang = a.lang
        |ORDER BY jac DESC, id_a, id_b""".stripMargin,

    "q22_boundary_exact" ->
      s"""WITH t0 AS (
        |  SELECT lang, doc_id, $toksSql AS tk FROM documents
        |), d AS (
        |  SELECT lang, doc_id, list_sort(list_distinct($bigramsFromTkSql)) AS sh FROM t0
        |), fam AS (
        |  SELECT lang, list_sort(list(doc_id)) AS ms FROM d
        |  WHERE len(sh) > 0
        |  GROUP BY lang, sh HAVING count(*) > 1
        |), pr AS (
        |  SELECT lang, ms[CAST(i.i AS INTEGER) + 1] AS id_a,
        |    ms[CAST(j.j AS INTEGER) + 1] AS id_b
        |  FROM fam, UNNEST(range(0, len(ms))) AS i(i),
        |    UNNEST(range(0, len(ms))) AS j(j)
        |  WHERE i.i < j.j
        |)
        |SELECT pr.lang, pr.id_a, pr.id_b FROM pr
        |LEFT JOIN reported r ON r.id_a = pr.id_a AND r.id_b = pr.id_b
        |WHERE r.id_a IS NULL
        |  AND (pr.id_a < {worst_ida}
        |    OR (pr.id_a = {worst_ida} AND pr.id_b < {worst_idb}))
        |LIMIT 5""".stripMargin,

    "q22_boundary_screen" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, $toksSql AS tk FROM documents
        |), toks AS (
        |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
        |), ${minhashChainCtes("toks", "")}
        |SELECT v.id_a, v.id_b, v.jac FROM verified v
        |JOIN documents da ON da.doc_id = v.id_a
        |JOIN documents db ON db.doc_id = v.id_b AND db.lang = da.lang
        |LEFT JOIN reported r ON r.id_a = v.id_a AND r.id_b = v.id_b
        |WHERE r.id_a IS NULL AND (v.jac > {worst_jac}
        |  OR (v.jac = {worst_jac} AND (v.id_a < {worst_ida}
        |    OR (v.id_a = {worst_ida} AND v.id_b < {worst_idb}))))
        |LIMIT 5""".stripMargin,

    "q87_sampled" ->
      crossCorpusSql("\n  WHERE doc_id % 2 = 0 OR doc_id % 101 = 7"))

  /** The composed curate pipeline's full-run CTE chain (q122/q123) over
    * a (doc_id, text, lang, source) relation `srcRel` — MATERIALIZE it
    * at the call site: DuckDB inlines plain CTEs, so every reference
    * would otherwise re-open the parquet and a double chain (q123) can
    * exhaust the process fd limit — every CTE name prefixed with `p` so the chain
    * can appear twice in one statement (q123 runs it over the full side
    * and replays the delta side against its frozen outputs). Ends at:
    * {p}b2 (raw + n_tok + norm), {p}exact, {p}nd (near-dup survivors),
    * {p}quality, {p}rawg/{p}bench (gram sets), {p}dec, {p}cur2 (scored
    * deciles), {p}cur (curriculum keeps), {p}ue (UniMax epochs). Must be
    * placed inside a WITH RECURSIVE ({p}reach is recursive). */
  private def curateChainCtes(p: String, srcRel: String): String = {
    val toksL = """list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0)"""
    val stopList = graft.operators.TextAnalysis.GopherStopwords
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""${p}b2 AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source,
      |    CAST(len($toksSql) AS BIGINT) AS n_tok,
      |    $normTextSql AS norm
      |  FROM $srcRel
      |), ${p}exact AS MATERIALIZED (
      |  SELECT doc_id, text, lang, source, n_tok FROM (
      |    SELECT *, min(doc_id) OVER (PARTITION BY norm) AS _k FROM ${p}b2
      |  ) WHERE doc_id = _k
      |), ${p}ndt0 AS (
      |  SELECT doc_id, $toksSql AS tk FROM ${p}exact
      |), ${p}ndtoks AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM ${p}ndt0
      |), ${minhashChainCtes(s"${p}ndtoks", s"${p}n")},
      |${p}pairs AS (SELECT id_a, id_b FROM ${p}nverified WHERE jac >= 0.5),
      |${p}e AS (
      |  SELECT id_a AS id, id_b AS nbr FROM ${p}pairs
      |  UNION
      |  SELECT id_b AS id, id_a AS nbr FROM ${p}pairs
      |), ${p}reach(id, r) AS (
      |  SELECT DISTINCT id, id AS r FROM ${p}e
      |  UNION
      |  SELECT ${p}e.id, ${p}reach.r FROM ${p}e JOIN ${p}reach ON ${p}e.nbr = ${p}reach.id
      |), ${p}cl AS (
      |  SELECT id, min(r) AS cluster_id FROM ${p}reach GROUP BY id
      |), ${p}wnd AS (
      |  SELECT ${p}cl.cluster_id, x.doc_id,
      |    row_number() OVER (PARTITION BY ${p}cl.cluster_id
      |      ORDER BY x.n_tok DESC, x.doc_id ASC) AS rk
      |  FROM ${p}cl JOIN ${p}exact x ON x.doc_id = ${p}cl.id
      |), ${p}losers AS (SELECT doc_id FROM ${p}wnd WHERE rk > 1),
      |${p}nd AS MATERIALIZED (
      |  SELECT x.doc_id, x.text, x.lang, x.source, x.n_tok
      |  FROM ${p}exact x LEFT JOIN ${p}losers l USING (doc_id)
      |  WHERE l.doc_id IS NULL
      |), ${p}gsig AS (
      |  SELECT doc_id, text, lang, source, n_tok,
      |    CAST(len($toksL) AS BIGINT) AS gntok,
      |    CAST(list_aggregate(list_transform($toksL, t -> length(t)), 'sum') AS BIGINT) AS gchars,
      |    CAST(len(list_filter($toksL, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS galpha,
      |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS gsymbols,
      |    CAST(len(list_intersect(list_distinct($toksL), $stopList)) AS BIGINT) AS gstops
      |  FROM ${p}nd
      |), ${p}quality AS (
      |  SELECT doc_id, text, lang, source, n_tok FROM ${p}gsig
      |  WHERE gntok >= 5 AND gntok <= 100000
      |    AND gntok > 0 AND CAST(gchars AS DOUBLE) / gntok >= 3.0
      |    AND CAST(gchars AS DOUBLE) / gntok <= 10.0
      |    AND CAST(galpha AS DOUBLE) >= 0.8 * CAST(gntok AS DOUBLE)
      |    AND CAST(gsymbols AS DOUBLE) <= 0.1 * CAST(gntok AS DOUBLE)
      |    AND gstops >= 1
      |), ${p}rawg AS MATERIALIZED (
      |  SELECT doc_id, list_distinct($trigramsFromTkSql) AS grams
      |  FROM (SELECT doc_id, $toksSql AS tk FROM $srcRel)
      |), ${p}bench AS MATERIALIZED (
      |  SELECT DISTINCT gm FROM (
      |    SELECT unnest(grams) AS gm FROM ${p}rawg WHERE doc_id % 20 = 0)
      |), ${p}qgr AS (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok, g.grams
      |  FROM ${p}quality q JOIN ${p}rawg g USING (doc_id)
      |), ${p}mtc AS (
      |  SELECT doc_id, count(*) AS n_matched FROM (
      |    SELECT doc_id, unnest(grams) AS gm FROM ${p}qgr
      |  ) JOIN ${p}bench USING (gm) GROUP BY doc_id
      |), ${p}dec AS MATERIALIZED (
      |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok
      |  FROM ${p}qgr q LEFT JOIN ${p}mtc USING (doc_id)
      |  WHERE q.doc_id % 20 <> 0
      |    AND (CASE WHEN len(q.grams) = 0 THEN 0.0
      |         ELSE CAST(coalesce(n_matched, 0) AS DOUBLE) / len(q.grams) END) < 0.2
      |), ${p}cur0 AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    CAST(len($toksSql) AS DOUBLE) AS sntok,
      |    CAST(len($contentToksSql) AS DOUBLE) AS sncont,
      |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS schars
      |  FROM ${p}dec
      |), ${p}cur1 AS (
      |  SELECT doc_id, lang, source, n_tok,
      |    0.4 * least(1.0, sntok / 50.0)
      |    + 0.3 * (1.0 - (CASE WHEN sntok = 0.0 THEN 1.0 ELSE 1.0 - sncont / sntok END))
      |    + 0.3 * least(1.0, (CASE WHEN sntok = 0.0 THEN 0.0 ELSE schars / sntok END) / 8.0) AS score
      |  FROM ${p}cur0
      |), ${p}cur2 AS MATERIALIZED (
      |  SELECT doc_id, lang, source, n_tok, score,
      |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS INTEGER) AS decile
      |  FROM ${p}cur1
      |), ${p}cur AS MATERIALIZED (
      |  SELECT doc_id, source, n_tok FROM ${p}cur2
      |  WHERE (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
      |), ${p}utc AS (
      |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM ${p}cur GROUP BY source
      |), ${p}uc AS (
      |  SELECT source, n_tokens,
      |    CAST(CAST(n_tokens AS DECIMAL(20,4)) * CAST(1.4 AS DECIMAL(8,4)) AS DECIMAL(24,4)) AS cap
      |  FROM ${p}utc
      |), ${p}ut AS (
      |  SELECT CAST(CAST(sum(n_tokens) AS DECIMAL(24,4)) * CAST(1.25 AS DECIMAL(8,4)) AS DECIMAL(28,4)) AS budget,
      |    count(*) AS s FROM ${p}utc
      |), ${p}ur AS (
      |  SELECT uc.source, uc.n_tokens, uc.cap, ut.budget, ut.s,
      |    CAST(row_number() OVER (ORDER BY uc.cap, uc.source) AS BIGINT) AS rk,
      |    sum(uc.cap) OVER (ORDER BY uc.cap, uc.source ROWS UNBOUNDED PRECEDING) AS pfx
      |  FROM ${p}uc uc, ${p}ut ut
      |), ${p}ub AS (
      |  SELECT *, (pfx + cap * (s - rk)) <= budget AS bound FROM ${p}ur
      |), ${p}ul AS (
      |  SELECT coalesce(sum(CASE WHEN bound THEN cap END), 0) AS bp,
      |    CAST(sum(CASE WHEN bound THEN 1 ELSE 0 END) AS BIGINT) AS j FROM ${p}ub
      |), ${p}ua AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN bound THEN CAST(cap AS DOUBLE)
      |         ELSE round(CAST(budget - bp AS DOUBLE) / (s - j), 6) END AS alloc_tokens
      |  FROM ${p}ub ub, ${p}ul ul
      |), ${p}ue AS MATERIALIZED (
      |  SELECT source,
      |    CASE WHEN n_tokens > 0 THEN round(alloc_tokens / n_tokens, 6) ELSE 0.0 END AS epochs
      |  FROM ${p}ua
      |)""".stripMargin
  }

  /** Shared CTE computing per-doc 30-bit simhash fingerprints. */
  private def simhashFpCte: String = {
    val bitExprs = (0 until 30)
      .map(i => s"list_sum(list_transform(hs, h -> CASE WHEN ((h >> $i) & 1) = 1 THEN 1 ELSE -1 END)) AS s$i")
      .mkString(",\n    ")
    val fpExpr = (0 until 30)
      .map(i => s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""hs AS (
       |  SELECT doc_id, lang, list_transform($toksSql, t -> ${ph("t")}) AS hs FROM documents
       |), bits AS (
       |  SELECT doc_id, lang,
       |    $bitExprs
       |  FROM hs
       |), fps AS (
       |  SELECT doc_id, lang, CAST($fpExpr AS BIGINT) AS fp FROM bits
       |)""".stripMargin
  }

  /** DuckDB word-bigram list from a token-list column `tk`. */
  private val bigramsFromTkSql =
    "list_transform(range(1, len(tk)), i -> tk[CAST(i AS INTEGER)] || ' ' || tk[CAST(i AS INTEGER) + 1])"

  /** DuckDB word-trigram list from a token-list column `tk`. */
  private val trigramsFromTkSql =
    "list_transform(range(1, len(tk) - 1), i -> tk[CAST(i AS INTEGER)] || ' ' || " +
      "tk[CAST(i AS INTEGER) + 1] || ' ' || tk[CAST(i AS INTEGER) + 2])"

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_entity_catalog" ->
      """SELECT user_id, count(*) AS n_events,
        |  count(DISTINCT event_type) AS n_types,
        |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us,
        |  string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS type_list,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q03_activity_catalog" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value,
        |  min(epoch_us(ts)) AS first_ts_us, max(epoch_us(ts)) AS last_ts_us
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q04_sessions" ->
      """WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value FROM events
        |), l AS (
        |  SELECT *, lag(ts) OVER w AS prev_ts, lag(event_type) OVER w AS prev_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > 600000000
        |    OR event_type <> prev_type THEN 1 ELSE 0 END AS brk FROM l
        |), s AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM b
        |)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(ts) AS start_us, max(ts) AS end_us,
        |  min(event_type) AS event_type,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,

    "q05_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events
        |), m AS (
        |  SELECT *, max(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max FROM iv
        |), b AS (
        |  SELECT *, CASE WHEN prev_max IS NULL OR s_us > prev_max THEN 1 ELSE 0 END AS brk FROM m
        |), g AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY s_us, e_us
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM b
        |), isl AS (
        |  SELECT user_id, island, min(s_us) AS s, max(e_us) AS e FROM g GROUP BY user_id, island
        |)
        |SELECT user_id, CAST(sum(e - s) AS BIGINT) AS union_us, count(*) AS n_islands
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q06_gap_stats" ->
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events
        |)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
        |  max(gap_us) AS max_gap_us,
        |  CAST(sum(CASE WHEN gap_us > 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_large_gaps
        |FROM l WHERE gap_us IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q07_value_stats" ->
      """SELECT l_returnflag, count(*) AS n,
        |  min(l_quantity) AS min_v, max(l_quantity) AS max_v,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_v,
        |  round(quantile_cont(l_quantity, 0.05), 6) AS p05,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.95), 6) AS p95,
        |  round(stddev_samp(l_quantity), 6) AS std_v
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q08_value_histogram" ->
      """WITH b AS (
        |  SELECT CASE WHEN value < 0.0 THEN -1 WHEN value < 10.0 THEN 0
        |    WHEN value < 25.0 THEN 1 WHEN value < 50.0 THEN 2
        |    WHEN value < 100.0 THEN 3 WHEN value < 200.0 THEN 4
        |    ELSE 5 END AS bin_id FROM events
        |), g AS (
        |  SELECT bin_id, count(*) AS n FROM b GROUP BY bin_id
        |)
        |SELECT bin_id, n, round(100.0 * n / sum(n) OVER (), 4) AS pct
        |FROM g ORDER BY bin_id""".stripMargin,

    "q09_dedup_stats" ->
      """WITH d AS (
        |  SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm_text
        |  FROM documents
        |), f AS (
        |  SELECT norm_text FROM d WHERE length(norm_text) >= 10
        |), g AS (
        |  SELECT norm_text, count(*) AS n FROM f GROUP BY norm_text
        |)
        |SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct,
        |  CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
        |  CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_docs
        |FROM g""".stripMargin,

    "q10_top_terms" ->
      s"""WITH t AS (
        |  SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents
        |)
        |SELECT term, count(*) AS n FROM t
        |WHERE length(term) > 0 AND term NOT IN $stopwordsSqlList
        |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    "q11_user_share" ->
      """WITH c AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
        |), r AS (
        |  SELECT user_id, n, round(100.0 * n / sum(n) OVER (), 4) AS pct,
        |    CAST(row_number() OVER (ORDER BY n DESC, user_id) AS INTEGER) AS rnk
        |  FROM c
        |)
        |SELECT user_id, n, pct, rnk FROM r WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "q12_region_rollup" ->
      """SELECT r_name, count(*) AS n_customers,
        |  count(DISTINCT n_name) AS n_nations,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q13_cust_without_orders" ->
      """SELECT c_mktsegment, count(*) AS n, min(c_custkey) AS min_custkey
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q14_cust_with_orders" ->
      """SELECT n_name, count(*) AS n_customers
        |FROM customer c JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q15_text_metrics" ->
      """WITH d AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> length(t) > 0)) AS n_tokens,
        |    length(text) AS n_chars_calc
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  max(n_tokens) AS max_tokens,
        |  CAST(sum(n_chars_calc) AS BIGINT) AS total_chars,
        |  CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / count(*) AS avg_tokens,
        |  CAST(CAST(sum(n_chars_calc) AS BIGINT) AS DOUBLE) / count(*) AS avg_chars
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q16_lexical_density" ->
      s"""WITH d AS (
        |  SELECT lang,
        |    len(list_filter(string_split_regex(text, '\\s+'), t -> length(t) > 0)) AS n_tokens,
        |    len(list_filter(string_split_regex(text, '\\s+'),
        |        t -> length(t) > 0 AND t NOT IN $stopwordsSqlList)) AS n_content
        |  FROM documents
        |)
        |SELECT lang,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_content) AS BIGINT) AS content_tokens,
        |  CAST(CAST(sum(n_content) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) AS density
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q17_overlap_pairs" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events
        |)
        |SELECT a.user_id AS user_id, count(*) AS n_overlap_pairs
        |FROM iv a JOIN iv b ON a.user_id = b.user_id
        |  AND a.event_id < b.event_id AND a.s_us < b.e_us AND b.s_us < a.e_us
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin,

    "q18_knn_exact" -> knnOracleSql,

    "q19_minhash_neardup" -> minhashOracleSql,

    "q20_simhash_fp" ->
      s"""WITH $simhashFpCte
        |SELECT doc_id, fp FROM fps ORDER BY doc_id""".stripMargin,

    "q21_simhash_pairs" ->
      s"""WITH $simhashFpCte,
        |langs AS (SELECT DISTINCT lang FROM documents),
        |cand AS (
        |  SELECT a.lang AS lang, bit_count(xor(a.fp, b.fp)) AS dist
        |  FROM fps a JOIN fps b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.fp, b.fp)) <= 8
        |)
        |SELECT l.lang AS lang,
        |  CAST(count(c.dist) AS BIGINT) AS n_pairs_le8,
        |  CAST(min(c.dist) AS BIGINT) AS min_dist
        |FROM langs l LEFT JOIN cand c ON l.lang = c.lang
        |GROUP BY l.lang ORDER BY lang""".stripMargin,

    "q22_jaccard_topk" ->
      s"""WITH t0 AS (
        |  SELECT lang, doc_id, $toksSql AS tk FROM documents
        |), d AS (
        |  SELECT lang, doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
        |)
        |SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |ORDER BY jac DESC, id_a, id_b LIMIT 20""".stripMargin,

    "q23_embedding_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY sim DESC, id_a, id_b LIMIT 20""".stripMargin,

    "q24_doc_quality" ->
      s"""WITH d AS (
        |  SELECT lang,
        |    CAST(len($toksSql) AS DOUBLE) AS ntok,
        |    CAST(len($contentToksSql) AS DOUBLE) AS ncont,
        |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents
        |), s AS (
        |  SELECT lang,
        |    0.4 * least(1.0, ntok / 50.0)
        |    + 0.3 * (1.0 - (CASE WHEN ntok = 0.0 THEN 1.0 ELSE 1.0 - ncont / ntok END))
        |    + 0.3 * least(1.0, (CASE WHEN ntok = 0.0 THEN 0.0 ELSE chars / ntok END) / 8.0) AS score
        |  FROM d
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_score,
        |  min(score) AS min_score, max(score) AS max_score
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q25_token_counts" ->
      s"""WITH d AS (
        |  SELECT lang,
        |    len($toksSql) AS n_ws,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpeish
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_ws) AS BIGINT) AS total_ws,
        |  CAST(sum(n_bpeish) AS BIGINT) AS total_bpeish,
        |  CAST(CAST(sum(n_bpeish) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(n_ws) AS BIGINT) AS DOUBLE) AS bpe_per_ws
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q26_fingerprints" ->
      s"""SELECT doc_id, ${ph(normTextSql)} AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q27_langid" ->
      s"""WITH norm AS (
        |  SELECT doc_id, lang, $normTextSql AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, lang,
        |    unnest(list_distinct(list_transform(range(1, length(t) - 1),
        |      i -> substr(t, CAST(i AS INTEGER), 3)))) AS g
        |  FROM norm
        |), prof AS (
        |  SELECT plabel, g FROM (
        |    SELECT plabel, g, row_number() OVER (PARTITION BY plabel ORDER BY n DESC, g) AS r
        |    FROM (SELECT lang AS plabel, g, count(*) AS n FROM grams
        |          WHERE doc_id % 4 = 0 GROUP BY lang, g)
        |  ) WHERE r <= 50
        |), scores AS (
        |  SELECT gr.doc_id, p.plabel, count(*) AS score
        |  FROM grams gr JOIN prof p ON gr.g = p.g
        |  GROUP BY gr.doc_id, p.plabel
        |), pred AS (
        |  SELECT doc_id, plabel AS predicted FROM (
        |    SELECT doc_id, plabel, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plabel) AS r
        |    FROM scores
        |  ) WHERE r = 1
        |)
        |SELECT d.lang AS lang, pred.predicted AS predicted, count(*) AS n
        |FROM documents d JOIN pred ON d.doc_id = pred.doc_id
        |GROUP BY d.lang, pred.predicted ORDER BY lang, predicted""".stripMargin,

    "q28_session_stats" ->
      """WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts, user_id, event_type FROM events
        |), l AS (
        |  SELECT *, lag(ts) OVER w AS prev_ts, lag(event_type) OVER w AS prev_type
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts > 600000000
        |    OR event_type <> prev_type THEN 1 ELSE 0 END AS brk FROM l
        |), s AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM b
        |), sess AS (
        |  SELECT user_id, session_seq, count(*) AS n_events,
        |    max(ts) - min(ts) AS dur_us
        |  FROM s GROUP BY user_id, session_seq
        |)
        |SELECT count(*) AS n_sessions, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(n_events) AS BIGINT) AS total_events,
        |  CAST(CAST(sum(n_events) AS BIGINT) AS DOUBLE) / count(*) AS events_per_session,
        |  max(dur_us) AS max_dur_us,
        |  round(100.0 * sum(CASE WHEN dur_us <= 600000000 THEN 1 ELSE 0 END) / count(*), 4) AS within_10min_pct
        |FROM sess""".stripMargin,

    "q29_stratified_sample" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(user_id % 10 AS INTEGER) AS bucket,
        |    (event_id * 1103515245 + 12345) % 2147483647 AS scramble
        |  FROM events
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket, event_type
        |    ORDER BY scramble, event_id) AS rn FROM e
        |)
        |SELECT bucket, count(*) AS n_sampled,
        |  count(DISTINCT event_type) AS n_types,
        |  min(event_id) AS min_event_id
        |FROM r WHERE rn <= 3 GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q30_correlations" ->
      """WITH r AS (
        |  SELECT l_returnflag, l_quantity, l_extendedprice,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS DOUBLE) AS rq,
        |    CAST(row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS DOUBLE) AS rp
        |  FROM lineitem
        |)
        |SELECT l_returnflag,
        |  round(corr(l_quantity, l_extendedprice), 6) AS pearson,
        |  round(corr(rq, rp), 6) AS spearman
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q31_adjacency" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |)
        |SELECT a.user_id AS user_id,
        |  count(DISTINCT a.event_id) AS n_with_neighbor,
        |  count(*) AS n_adjacent_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND abs(a.ts - b.ts) <= 3600000000
        |GROUP BY a.user_id ORDER BY user_id""".stripMargin,

    "q32_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q33_running_aggs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts, value
        |  FROM events WHERE user_id < 2
        |)
        |SELECT user_id, event_id, ts,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS moving_avg
        |FROM e ORDER BY user_id, ts, event_id""".stripMargin,

    "q34_embedding_stats" ->
      """WITH e AS (
        |  SELECT label, embedding,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |)
        |SELECT label, count(*) AS n,
        |  count(DISTINCT len(embedding)) AS n_dims,
        |  CAST(min(len(embedding)) AS BIGINT) AS dim,
        |  round(min(nrm), 6) AS min_norm,
        |  round(max(nrm), 6) AS max_norm,
        |  CAST(sum(CAST(nrm AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_norm
        |FROM e GROUP BY label ORDER BY label""".stripMargin,

    "q35_length_bias" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
        |  FROM embeddings
        |)
        |SELECT lang, count(*) AS n,
        |  round(corr(CAST(n_chars AS DOUBLE), nrm), 6) AS len_norm_corr
        |FROM documents d JOIN e ON d.doc_id = e.vec_id
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q36_validation_split" ->
      """WITH c AS (
        |  SELECT *, CASE WHEN l_quantity <= 0 THEN 'bad_quantity'
        |    WHEN l_discount > 0.08 THEN 'high_discount'
        |    WHEN l_tax > 0.06 THEN 'high_tax'
        |    WHEN l_shipdate IS NULL THEN 'missing_shipdate'
        |    ELSE 'valid' END AS rule FROM lineitem
        |)
        |SELECT rule, count(*) AS n, min(l_orderkey) AS min_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM c GROUP BY rule ORDER BY rule""".stripMargin,

    "q37_monotonicity" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |    epoch_us(ts) + CAST(floor(value * 1000000.0) AS BIGINT) AS e_us
        |  FROM events
        |), l AS (
        |  SELECT user_id,
        |    lag(e_us) OVER (PARTITION BY user_id ORDER BY s_us, e_us, event_id) AS prev_e,
        |    s_us
        |  FROM iv
        |), r AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN prev_e > s_us THEN 1 ELSE 0 END) AS BIGINT) AS n_regressions
        |  FROM l GROUP BY user_id
        |)
        |SELECT user_id, n_events, n_regressions,
        |  round(100.0 * n_regressions / n_events, 4) AS regression_pct
        |FROM r WHERE n_regressions > 0 ORDER BY user_id""".stripMargin,

    "q38_length_compliance" ->
      """SELECT lang, count(*) AS n_docs,
        |  round(100.0 * sum(CASE WHEN n_chars BETWEEN 100 AND 400 THEN 1 ELSE 0 END) / count(*), 4) AS pct_in_range,
        |  round(100.0 * sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) / count(*), 4) AS pct_short,
        |  round(100.0 * sum(CASE WHEN n_chars > 400 THEN 1 ELSE 0 END) / count(*), 4) AS pct_long
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q39_punct_ratio" ->
      """WITH d AS (
        |  SELECT lang,
        |    CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN 0.0
        |      ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |        / length(regexp_replace(text, '\s', '', 'g')) END AS pr
        |  FROM documents
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CAST(pr AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_punct_ratio,
        |  round(min(pr), 6) AS min_punct_ratio,
        |  round(max(pr), 6) AS max_punct_ratio
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "q40_date_rollup" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  count(*) AS n_orders,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY order_year""".stripMargin,

    "q41_weighted_share" ->
      """SELECT l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_qty,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(18,2))
        |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |    / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS returned_share
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q42_type_sequence" ->
      """WITH f AS (
        |  SELECT user_id, event_type, min(epoch_us(ts)) AS first_ts
        |  FROM events GROUP BY user_id, event_type
        |)
        |SELECT user_id, count(*) AS n_types,
        |  string_agg(event_type, ',' ORDER BY first_ts, event_type) AS type_seq
        |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q43_asof_lag" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), m AS (
        |  SELECT *, max(CASE WHEN event_type = 'click' THEN ts END) OVER (
        |    PARTITION BY user_id
        |    ORDER BY ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END, event_id
        |    ROWS UNBOUNDED PRECEDING) AS last_click
        |  FROM e
        |)
        |SELECT user_id, count(*) AS n_purchases,
        |  count(last_click) AS n_matched,
        |  CAST(sum(ts - last_click) AS BIGINT) AS total_lag_us,
        |  max(ts - last_click) AS max_lag_us
        |FROM m WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q44_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q45_pivot_counts" ->
      """SELECT CAST(user_id % 10 AS INTEGER) AS bucket,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q46_value_quartiles" ->
      """WITH t AS (
        |  SELECT event_type, event_id, value,
        |    CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INTEGER) AS q
        |  FROM events
        |)
        |SELECT event_type, q, count(*) AS n,
        |  min(value) AS min_v, max(value) AS max_v,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_v
        |FROM t GROUP BY event_type, q ORDER BY event_type, q""".stripMargin,

    "q47_label_leakage" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
        |), p AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel,
        |    c.vec_id AS neighbor_id, c.label AS nlabel,
        |    round(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        |  FROM e q JOIN e c ON q.vec_id < 100 AND c.vec_id <> q.vec_id
        |), r AS (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM p
        |)
        |SELECT CAST(qlabel AS BIGINT) AS label,
        |  count(DISTINCT query_id) AS n_queries,
        |  round(100.0 * sum(CASE WHEN qlabel = nlabel THEN 1 ELSE 0 END) / count(*), 4) AS same_label_pct
        |FROM r WHERE rnk <= 5 GROUP BY qlabel ORDER BY label""".stripMargin,

    "q48_json_stats" ->
      """WITH e AS (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
        |)
        |SELECT event_type, count(*) AS n, count(k) AS n_with_k,
        |  min(k) AS min_k, max(k) AS max_k,
        |  CAST(sum(k) AS DOUBLE) / count(k) AS avg_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q49_validation_checks" ->
      """WITH o AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_okey,
        |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_ckey,
        |    count(o_orderkey) - count(DISTINCT o_orderkey) AS dup_okey,
        |    count(DISTINCT o_custkey) AS fk_card_ckey,
        |    sum(CASE WHEN isnan(o_totalprice) THEN 1 ELSE 0 END) AS nan_tp,
        |    sum(CASE WHEN isinf(o_totalprice) THEN 1 ELSE 0 END) AS inf_tp
        |  FROM orders
        |), l AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS id_nulls_okey,
        |    count(CASE WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL THEN 1 END)
        |      - count(DISTINCT (l_orderkey, l_linenumber)) AS dup_pk,
        |    count(DISTINCT l_orderkey) AS fk_card_okey,
        |    sum(CASE WHEN isnan(l_quantity) THEN 1 ELSE 0 END) AS nan_qty,
        |    sum(CASE WHEN isinf(l_quantity) THEN 1 ELSE 0 END) AS inf_qty,
        |    sum(CASE WHEN isnan(l_extendedprice) THEN 1 ELSE 0 END) AS nan_ep,
        |    sum(CASE WHEN isinf(l_extendedprice) THEN 1 ELSE 0 END) AS inf_ep,
        |    sum(CASE WHEN isnan(l_discount) THEN 1 ELSE 0 END) AS nan_disc,
        |    sum(CASE WHEN isinf(l_discount) THEN 1 ELSE 0 END) AS inf_disc,
        |    sum(CASE WHEN isnan(l_tax) THEN 1 ELSE 0 END) AS nan_tax,
        |    sum(CASE WHEN isinf(l_tax) THEN 1 ELSE 0 END) AS inf_tax
        |  FROM lineitem
        |), e AS (
        |  SELECT count(*) AS n_rows,
        |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS id_nulls_eid,
        |    sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS id_nulls_uid,
        |    count(event_id) - count(DISTINCT event_id) AS dup_eid,
        |    sum(CASE WHEN isnan(value) THEN 1 ELSE 0 END) AS nan_val,
        |    sum(CASE WHEN isinf(value) THEN 1 ELSE 0 END) AS inf_val
        |  FROM events
        |), orph_o AS (
        |  SELECT count(*) AS m FROM orders oo
        |  WHERE oo.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = oo.o_custkey)
        |), orph_l AS (
        |  SELECT count(*) AS m FROM lineitem li
        |  WHERE li.l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders oo WHERE oo.o_orderkey = li.l_orderkey)
        |), checks AS (
        |  SELECT 'orders' AS table_name, 'non_empty_table' AS check_name, 'error' AS severity, n_rows > 0 AS passed, n_rows AS metric FROM o
        |  UNION ALL SELECT 'orders', 'id_nulls_o_orderkey', 'error', id_nulls_okey = 0, id_nulls_okey FROM o
        |  UNION ALL SELECT 'orders', 'id_nulls_o_custkey', 'error', id_nulls_ckey = 0, id_nulls_ckey FROM o
        |  UNION ALL SELECT 'orders', 'id_duplicates_o_orderkey', 'error', dup_okey = 0, dup_okey FROM o
        |  UNION ALL SELECT 'orders', 'id_foreign_key_o_custkey', 'info', TRUE, fk_card_ckey FROM o
        |  UNION ALL SELECT 'orders', 'numeric_nans_o_totalprice', 'error', nan_tp = 0, nan_tp FROM o
        |  UNION ALL SELECT 'orders', 'numeric_inf_o_totalprice', 'error', inf_tp = 0, inf_tp FROM o
        |  UNION ALL SELECT 'orders', 'referential_integrity_o_custkey', 'error', m = 0, m FROM orph_o
        |  UNION ALL SELECT 'lineitem', 'non_empty_table', 'error', n_rows > 0, n_rows FROM l
        |  UNION ALL SELECT 'lineitem', 'id_nulls_l_orderkey', 'error', id_nulls_okey = 0, id_nulls_okey FROM l
        |  UNION ALL SELECT 'lineitem', 'id_duplicates_l_orderkey_l_linenumber', 'error', dup_pk = 0, dup_pk FROM l
        |  UNION ALL SELECT 'lineitem', 'id_foreign_key_l_orderkey', 'info', TRUE, fk_card_okey FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_quantity', 'error', nan_qty = 0, nan_qty FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_quantity', 'error', inf_qty = 0, inf_qty FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_extendedprice', 'error', nan_ep = 0, nan_ep FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_extendedprice', 'error', inf_ep = 0, inf_ep FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_discount', 'error', nan_disc = 0, nan_disc FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_discount', 'error', inf_disc = 0, inf_disc FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_nans_l_tax', 'error', nan_tax = 0, nan_tax FROM l
        |  UNION ALL SELECT 'lineitem', 'numeric_inf_l_tax', 'error', inf_tax = 0, inf_tax FROM l
        |  UNION ALL SELECT 'lineitem', 'referential_integrity_l_orderkey', 'error', m = 0, m FROM orph_l
        |  UNION ALL SELECT 'events', 'non_empty_table', 'error', n_rows > 0, n_rows FROM e
        |  UNION ALL SELECT 'events', 'id_nulls_event_id', 'error', id_nulls_eid = 0, id_nulls_eid FROM e
        |  UNION ALL SELECT 'events', 'id_nulls_user_id', 'error', id_nulls_uid = 0, id_nulls_uid FROM e
        |  UNION ALL SELECT 'events', 'id_duplicates_event_id', 'error', dup_eid = 0, dup_eid FROM e
        |  UNION ALL SELECT 'events', 'numeric_nans_value', 'error', nan_val = 0, nan_val FROM e
        |  UNION ALL SELECT 'events', 'numeric_inf_value', 'error', inf_val = 0, inf_val FROM e
        |)
        |SELECT table_name, check_name, severity, passed, CAST(metric AS BIGINT) AS metric
        |FROM checks ORDER BY table_name, check_name""".stripMargin,

    "q50_series_balance" ->
      """WITH s AS (
        |  SELECT source AS series, count(*) AS doc_count,
        |    count(DISTINCT lang) AS lang_count,
        |    sum(n_chars) AS total_chars, round(avg(n_chars), 2) AS avg_chars
        |  FROM documents GROUP BY source
        |)
        |SELECT series, CAST(doc_count AS BIGINT) AS doc_count,
        |  round(100.0 * doc_count / sum(doc_count) OVER (), 2) AS doc_percent,
        |  CAST(lang_count AS BIGINT) AS lang_count,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  avg_chars,
        |  round(CAST(max(doc_count) OVER () AS DOUBLE) / min(doc_count) OVER (), 2) AS balance_ratio
        |FROM s ORDER BY doc_count DESC, series""".stripMargin,

    "q51_quality_signals" ->
      s"""WITH t AS (
        |  SELECT lang, text, $toksSql AS tk FROM documents
        |), s AS (
        |  SELECT lang,
        |    len(tk) AS n_words,
        |    length(array_to_string(tk, '')) AS n_chars,
        |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
        |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |    len(tk) - len($contentToksSql) AS n_stop
        |  FROM t
        |)
        |SELECT lang,
        |  count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_words,
        |  CAST(sum(n_chars) AS DOUBLE) / sum(n_words) AS avg_word_len,
        |  CAST(sum(n_alpha) AS DOUBLE) / sum(n_words) AS alpha_frac,
        |  CAST(sum(n_stop) AS BIGINT) AS total_stopwords,
        |  CAST(sum(CASE WHEN n_words >= 10 AND n_words <= 100000
        |    AND n_words > 0
        |    AND CAST(n_chars AS DOUBLE) / n_words >= 2.0
        |    AND CAST(n_chars AS DOUBLE) / n_words <= 10.0
        |    AND CAST(n_symbols AS DOUBLE) / n_words < 0.1
        |    AND CAST(n_alpha AS DOUBLE) / n_words > 0.8
        |    AND n_stop >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q52_repetition" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS tk FROM documents
        |), g AS (
        |  SELECT doc_id, unnest($bigramsFromTkSql) AS gram FROM t WHERE len(tk) >= 2
        |), c AS (
        |  SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram
        |), r AS (
        |  SELECT doc_id, gram, cnt,
        |    sum(cnt) OVER (PARTITION BY doc_id) AS total,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rnk
        |  FROM c
        |)
        |SELECT doc_id, CAST(total AS BIGINT) AS n_grams, gram AS top_gram,
        |  CAST(cnt AS BIGINT) AS top_n,
        |  round(CAST(cnt AS DOUBLE) / total, 6) AS top_fraction
        |FROM r WHERE rnk = 1
        |ORDER BY top_fraction DESC, doc_id LIMIT 10""".stripMargin,

    "q53_pii_stats" ->
      """SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(len(regexp_extract_all(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS email_matches,
        |  CAST(sum(len(regexp_extract_all(props, '\+?[0-9][0-9() -]{6,}[0-9]'))) AS BIGINT) AS phone_matches,
        |  CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS BIGINT) AS digit_chars,
        |  CAST(sum(length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))) AS DOUBLE)
        |    / sum(length(props)) AS digit_ratio
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q54_dedup_clusters" ->
      s"""WITH RECURSIVE $minhashCtesSql,
        |pairs AS (SELECT id_a, id_b FROM verified WHERE jac >= 0.5),
        |e AS (
        |  SELECT id_a AS id, id_b AS nbr FROM pairs
        |  UNION
        |  SELECT id_b AS id, id_a AS nbr FROM pairs
        |), reach(id, r) AS (
        |  SELECT DISTINCT id, id AS r FROM e
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id
        |)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members FROM (
        |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        |) GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "q55_top_bigrams" ->
      s"""WITH t AS (
        |  SELECT $toksSql AS tk FROM documents
        |), b AS (
        |  SELECT tk[i] AS w1, tk[i+1] AS w2
        |  FROM t, UNNEST(range(1, len(tk))) AS r(i)
        |)
        |SELECT w1 || ' ' || w2 AS bigram, CAST(count(*) AS BIGINT) AS n
        |FROM b
        |WHERE w1 NOT IN $stopwordsSqlList OR w2 NOT IN $stopwordsSqlList
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    // exhaustive probing (nProbe = nCells) makes the IVF search exact,
    // so its oracle is the same brute-force top-k as q18
    "q56_knn_ivf" -> knnOracleSql,

    // exhaustive probing plus efSearch ≥ cell size makes the per-cell
    // HNSW beam search visit every node of its backbone-connected
    // layer-0 graph — same brute-force oracle as q18/q56
    "q124_knn_hnsw" -> knnOracleSql,

    // the PQ-coded graph's exhaustive config (ef ≥ cell, window ≥ cell,
    // nProbe = nCells) reduces to an exhaustive EXACT rerank against the
    // int8 store, so the oracle is the q18 brute force with the corpus
    // side pushed through the q63-proven int8 replay
    // (round(x·scale)/scale, scale = 127/max|x|); queries stay float
    "q125_knn_hnsw_pq" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), m AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
        |), rc AS (
        |  SELECT vec_id,
        |    CASE WHEN maxabs > 0
        |      THEN list_transform(v, x -> round(x * (127.0 / maxabs)) / (127.0 / maxabs))
        |      ELSE v END AS rv
        |  FROM m
        |), p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, c.rv)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.rv, c.rv))), 6) AS sim
        |  FROM e q JOIN rc c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        |), r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "q57_decontamination" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, lang, $toksSql AS tk FROM documents
        |), d AS (
        |  SELECT doc_id, lang, list_distinct($trigramsFromTkSql) AS grams FROM t0
        |), gx AS (
        |  SELECT doc_id, lang, unnest(grams) AS gm FROM d
        |), bench AS (
        |  SELECT DISTINCT gm FROM gx WHERE doc_id % 20 = 0
        |), m AS (
        |  SELECT gx.doc_id, count(*) AS n_matched
        |  FROM gx JOIN bench USING (gm) WHERE gx.doc_id % 20 <> 0
        |  GROUP BY gx.doc_id
        |), p AS (
        |  SELECT d.lang,
        |    CASE WHEN len(d.grams) = 0 THEN 0.0
        |         ELSE CAST(coalesce(m.n_matched, 0) AS DOUBLE) / len(d.grams) END AS frac
        |  FROM d LEFT JOIN m ON d.doc_id = m.doc_id
        |  WHERE d.doc_id % 20 <> 0
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN frac >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  round(CAST(sum(CAST(frac AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_overlap,
        |  round(max(frac), 6) AS max_overlap
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "q58_curriculum_deciles" ->
      s"""WITH raw AS (
        |  SELECT doc_id, lang,
        |    CAST(len($toksSql) AS DOUBLE) AS ntok,
        |    CAST(len($contentToksSql) AS DOUBLE) AS ncont,
        |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS chars
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, lang,
        |    0.4 * least(1.0, ntok / 50.0)
        |    + 0.3 * (1.0 - (CASE WHEN ntok = 0.0 THEN 1.0 ELSE 1.0 - ncont / ntok END))
        |    + 0.3 * least(1.0, (CASE WHEN ntok = 0.0 THEN 0.0 ELSE chars / ntok END) / 8.0) AS score
        |  FROM raw
        |), d AS (
        |  SELECT lang, doc_id, score,
        |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY score, doc_id) AS INTEGER) AS decile
        |  FROM s
        |)
        |SELECT lang, decile, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_score
        |FROM d GROUP BY lang, decile ORDER BY lang, decile""".stripMargin,

    "q59_domain_mixture" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot, count(*) AS nsrc FROM c
        |)
        |SELECT source, n_docs,
        |  round(CAST(n_docs AS DOUBLE) / tot * 100, 6) AS share_pct,
        |  round(least(3.0, (1.0 / nsrc) / (CAST(n_docs AS DOUBLE) / tot)), 6) AS mix_weight,
        |  CAST(floor(n_docs * least(3.0, (1.0 / nsrc) / (CAST(n_docs AS DOUBLE) / tot))) AS BIGINT) AS planned_n
        |FROM c, t ORDER BY source""".stripMargin,

    "q60_boilerplate" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, lang, $toksSql AS tk FROM documents
        |), gx AS (
        |  SELECT doc_id, lang, unnest($bigramsFromTkSql) AS gm FROM t0
        |), nd AS (
        |  SELECT count(*) AS ndocs FROM documents
        |), b AS (
        |  SELECT gm FROM (
        |    SELECT gm, count(*) AS df FROM (SELECT DISTINCT doc_id, gm FROM gx) GROUP BY gm
        |  ), nd WHERE df > 0.25 * ndocs
        |), p AS (
        |  SELECT gx.doc_id, gx.lang,
        |    CAST(sum(CASE WHEN b.gm IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) AS ratio
        |  FROM gx LEFT JOIN b ON gx.gm = b.gm
        |  GROUP BY gx.doc_id, gx.lang
        |)
        |SELECT lang, count(*) AS n_docs,
        |  round(CAST(sum(CAST(ratio AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_boiler_ratio,
        |  CAST(sum(CASE WHEN ratio > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    "q61_tfidf_terms" ->
      s"""WITH terms AS (
        |  SELECT doc_id, lang, unnest($contentToksSql) AS term FROM documents
        |), tf1 AS (
        |  SELECT lang, term, count(*) AS tf FROM terms GROUP BY lang, term
        |), df1 AS (
        |  SELECT lang, term, count(*) AS df
        |  FROM (SELECT DISTINCT lang, term, doc_id FROM terms) GROUP BY lang, term
        |), ld AS (
        |  SELECT lang, count(*) AS n_lang_docs FROM documents GROUP BY lang
        |), s AS (
        |  SELECT tf1.lang, tf1.term, tf1.tf, df1.df,
        |    round(tf1.tf * ln(CAST(ld.n_lang_docs AS DOUBLE) / df1.df), 6) AS tfidf
        |  FROM tf1
        |  JOIN df1 ON tf1.lang = df1.lang AND tf1.term = df1.term
        |  JOIN ld ON tf1.lang = ld.lang
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS INTEGER) AS rnk
        |  FROM s
        |)
        |SELECT lang, rnk, term, tf, df, tfidf FROM r WHERE rnk <= 5
        |ORDER BY lang, rnk""".stripMargin,

    "q62_packing_stats" ->
      s"""WITH d AS (
        |  SELECT lang, doc_id, len($toksSql) AS ntok FROM documents
        |), c AS (
        |  SELECT lang, doc_id, ntok,
        |    sum(ntok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d
        |), pk AS (
        |  SELECT lang,
        |    CAST(floor(CAST(cum - ntok AS DOUBLE) / 512) AS BIGINT) AS pack,
        |    count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS pack_tokens
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT lang, count(*) AS n_packs,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(n_docs) AS DOUBLE) / count(*) AS avg_docs_per_pack,
        |  round(CAST(sum(pack_tokens) AS DOUBLE) / (count(*) * 512.0), 6) AS avg_fill,
        |  max(pack_tokens) AS max_pack_tokens
        |FROM pk GROUP BY lang ORDER BY lang""".stripMargin,

    "q63_quantization" ->
      """WITH e AS (
        |  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), m AS (
        |  SELECT label, v, list_max(list_transform(v, x -> abs(x))) AS maxabs FROM e
        |), s AS (
        |  SELECT label, v, 127.0 / maxabs AS scale FROM m WHERE maxabs > 0
        |), r AS (
        |  SELECT label, scale,
        |    list_transform(v, x -> x - round(x * scale) / scale) AS resid,
        |    len(v) AS dim
        |  FROM s
        |), q AS (
        |  SELECT label,
        |    round(sqrt(list_dot_product(resid, resid) / dim), 6) AS rmse,
        |    round(scale, 6) AS scale_r
        |  FROM r
        |)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CAST(rmse AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_rmse,
        |  max(rmse) AS max_rmse,
        |  CAST(sum(CAST(scale_r AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS avg_scale
        |FROM q GROUP BY label ORDER BY label""".stripMargin,

    "q64_retention" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day
        |  FROM events
        |), firsts AS (
        |  SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id
        |), active AS (
        |  SELECT DISTINCT e.user_id,
        |    CAST(floor(f.first_day / 7.0) AS BIGINT) AS cohort_week,
        |    CAST(floor((e.day - f.first_day) / 7.0) AS BIGINT) AS offset_week
        |  FROM e JOIN firsts f ON e.user_id = f.user_id
        |), counts AS (
        |  SELECT cohort_week, offset_week, count(*) AS n_users
        |  FROM active GROUP BY cohort_week, offset_week
        |), sizes AS (
        |  SELECT CAST(floor(first_day / 7.0) AS BIGINT) AS cohort_week,
        |    count(*) AS cohort_size
        |  FROM firsts GROUP BY 1
        |)
        |SELECT c.cohort_week, c.offset_week, c.n_users, s.cohort_size,
        |  round(100.0 * c.n_users / s.cohort_size, 4) AS retention_pct
        |FROM counts c JOIN sizes s ON c.cohort_week = s.cohort_week
        |ORDER BY c.cohort_week, c.offset_week""".stripMargin,

    "q65_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t1,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t2,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t3,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t4
        |  FROM events GROUP BY user_id
        |), c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |    CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2 AND t4 > t3 THEN 1 ELSE 0 END) AS BIGINT) AS n4
        |  FROM f
        |)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'signup' AS name, n1 AS n_users, 1.0 AS pct_of_entry FROM c
        |  UNION ALL
        |  SELECT 2, 'view_after_signup', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
        |  UNION ALL
        |  SELECT 3, 'click_after_view', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM c
        |  UNION ALL
        |  SELECT 4, 'purchase_after_click', n4, round(CAST(n4 AS DOUBLE) / n1, 6) FROM c
        |) ORDER BY stage""".stripMargin,

    "q66_rolling_daily" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events
        |), d AS (
        |  SELECT event_type, day, sum(v) AS dv, count(*) AS n
        |  FROM e GROUP BY event_type, day
        |)
        |SELECT event_type, day,
        |  CAST(dv AS DOUBLE) AS day_value, n,
        |  CAST(sum(dv) OVER w AS DOUBLE) AS rolling_7d_value,
        |  CAST(sum(n) OVER w AS BIGINT) AS rolling_7d_events
        |FROM d
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    "q67_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
        |), p AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM e
        |), c AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS n
        |  FROM p WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type
        |)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c ORDER BY prev_type, next_type""".stripMargin,

    "q68_pii_redaction" ->
      """WITH r AS (
        |  SELECT event_type, props,
        |    regexp_replace(
        |      regexp_replace(props, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9][0-9() -]{6,}[0-9]', '<PHONE>', 'g') AS red
        |  FROM events
        |)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN red <> props THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted,
        |  CAST(sum(length(red) - length(props)) AS BIGINT) AS len_delta
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q69_source_dup_rates" ->
      s"""WITH h AS (
        |  SELECT source, ${ph(normTextSql)} AS h FROM documents
        |), d AS (
        |  SELECT source, count(*) AS n_docs FROM h GROUP BY source
        |), u AS (
        |  SELECT source, count(*) AS n_distinct
        |  FROM (SELECT DISTINCT source, h FROM h) GROUP BY source
        |)
        |SELECT d.source, d.n_docs, u.n_distinct,
        |  round(1.0 - CAST(u.n_distinct AS DOUBLE) / d.n_docs, 6) AS dup_rate
        |FROM d JOIN u ON d.source = u.source ORDER BY d.source""".stripMargin,

    "q70_cross_lang" ->
      s"""WITH p AS (
        |  SELECT DISTINCT ${ph(normTextSql)} AS h, lang FROM documents
        |), c AS (
        |  SELECT h, count(*) AS n_langs FROM p GROUP BY h
        |)
        |SELECT n_langs, count(*) AS n_contents FROM c
        |GROUP BY n_langs ORDER BY n_langs""".stripMargin,

    "q71_source_drift" ->
      s"""WITH t AS (
        |  SELECT source, CAST(len($toksSql) AS DOUBLE) AS ntok FROM documents
        |), b AS (
        |  SELECT source,
        |    CASE WHEN ntok < 10 THEN -1 WHEN ntok < 20 THEN 0
        |         WHEN ntok < 30 THEN 1 WHEN ntok < 40 THEN 2
        |         WHEN ntok < 50 THEN 3 ELSE 4 END AS bin
        |  FROM t
        |), ps AS (
        |  SELECT source, bin, count(*) AS n FROM b GROUP BY source, bin
        |), ct AS (
        |  SELECT bin, count(*) AS n_total FROM b GROUP BY bin
        |), st AS (
        |  SELECT source, count(*) AS n_source FROM b GROUP BY source
        |), al AS (
        |  SELECT count(*) AS n_all FROM b
        |), terms AS (
        |  SELECT ps.source, st.n_source,
        |    (CAST(ps.n AS DOUBLE) - CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all)
        |    * (CAST(ps.n AS DOUBLE) - CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all)
        |    / (CAST(ct.n_total AS DOUBLE) * st.n_source / al.n_all) AS term
        |  FROM ps JOIN ct ON ps.bin = ct.bin JOIN st ON ps.source = st.source, al
        |)
        |SELECT source, max(n_source) AS n_docs,
        |  round(CAST(sum(CAST(term AS DECIMAL(20,12))) AS DOUBLE), 6) AS chi_square
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    "q72_asof_join" ->
      """WITH c AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts FROM events
        |  WHERE event_type = 'click'
        |), s AS (
        |  SELECT user_id, epoch_us(ts) AS s_ts, max(value) AS signup_value
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id, epoch_us(ts)
        |)
        |SELECT c.user_id, c.event_id, c.ts,
        |  s.signup_value AS asof_signup_value
        |FROM c ASOF LEFT JOIN s ON c.user_id = s.user_id AND c.ts >= s.s_ts
        |ORDER BY c.user_id, c.ts, c.event_id""".stripMargin,

    "q73_edit_pairs" ->
      """WITH p AS (
        |  SELECT DISTINCT lower(p_name) AS nm FROM part
        |), b AS (
        |  SELECT nm, string_split(nm, ' ')[1] AS blk FROM p
        |)
        |SELECT x.nm AS id_a, y.nm AS id_b,
        |  CAST(levenshtein(x.nm, y.nm) AS INTEGER) AS dist
        |FROM b x JOIN b y ON x.blk = y.blk AND x.nm < y.nm
        |WHERE levenshtein(x.nm, y.nm) <= 4
        |ORDER BY dist, id_a, id_b LIMIT 20""".stripMargin,

    "q74_latest_per_key" ->
      """WITH r AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts, event_type,
        |    round(value, 6) AS value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rnk
        |  FROM events
        |)
        |SELECT user_id, event_id, ts, event_type, value
        |FROM r WHERE rnk = 1 ORDER BY user_id""".stripMargin,

    "q75_type_token" ->
      s"""WITH tk AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents
        |), totals AS (
        |  SELECT source, count(*) AS n_tokens FROM tk GROUP BY source
        |), types AS (
        |  SELECT source, count(*) AS n_types
        |  FROM (SELECT DISTINCT source, tok FROM tk) GROUP BY source
        |)
        |SELECT t.source, t.n_tokens, y.n_types,
        |  round(CAST(y.n_types AS DOUBLE) / t.n_tokens, 6) AS ttr
        |FROM totals t JOIN types y ON t.source = y.source
        |ORDER BY t.source""".stripMargin,

    "q76_source_novelty" ->
      s"""WITH t0 AS (
        |  SELECT source, $toksSql AS tk FROM documents
        |), g AS (
        |  SELECT DISTINCT source, unnest($bigramsFromTkSql) AS g FROM t0
        |), spread AS (
        |  SELECT g, count(*) AS n_sources FROM g GROUP BY g
        |)
        |SELECT g.source, count(*) AS n_bigrams,
        |  CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1.0 / count(*), 6) AS novelty
        |FROM g JOIN spread ON g.g = spread.g
        |GROUP BY g.source ORDER BY g.source""".stripMargin,

    "q77_collocations" ->
      s"""WITH t AS (
        |  SELECT $toksSql AS tk FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS nw FROM (SELECT unnest(tk) AS w FROM t) GROUP BY w
        |), tot AS (
        |  SELECT CAST(sum(nw) AS BIGINT) AS tok_total FROM uni
        |), bi AS (
        |  SELECT bg, count(*) AS nab,
        |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        |  FROM (SELECT unnest($bigramsFromTkSql) AS bg FROM t WHERE len(tk) >= 2)
        |  GROUP BY bg
        |), bt AS (
        |  SELECT CAST(sum(nab) AS BIGINT) AS bi_total FROM bi
        |)
        |SELECT bi.bg AS bigram, bi.nab AS n, a.nw AS na, b.nw AS nb,
        |  round(ln((CAST(bi.nab AS DOUBLE) / bt.bi_total)
        |    / ((CAST(a.nw AS DOUBLE) / tot.tok_total)
        |       * (CAST(b.nw AS DOUBLE) / tot.tok_total))), 6) AS pmi
        |FROM bi JOIN uni a ON bi.w1 = a.w
        |JOIN uni b ON bi.w2 = b.w, tot, bt
        |ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "q78_head_coverage" ->
      s"""WITH terms AS (
        |  SELECT lang, w, count(*) AS nw
        |  FROM (SELECT lang, unnest($toksSql) AS w FROM documents)
        |  GROUP BY lang, w
        |), top AS (
        |  SELECT lang, CAST(sum(nw) AS BIGINT) AS top10_tokens FROM (
        |    SELECT lang, nw,
        |      row_number() OVER (PARTITION BY lang ORDER BY nw DESC, w) AS rnk
        |    FROM terms
        |  ) WHERE rnk <= 10 GROUP BY lang
        |), totals AS (
        |  SELECT lang, CAST(sum(nw) AS BIGINT) AS n_tokens FROM terms GROUP BY lang
        |)
        |SELECT t.lang, t.n_tokens, p.top10_tokens,
        |  round(CAST(p.top10_tokens AS DOUBLE) / t.n_tokens, 6) AS head_coverage
        |FROM totals t JOIN top p ON t.lang = p.lang
        |ORDER BY t.lang""".stripMargin,

    "q79_user_entropy" ->
      """WITH ut AS (
        |  SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type
        |), u AS (
        |  SELECT user_id, sum(n) AS n_all,
        |    sum(CAST(CAST(n AS DOUBLE) * ln(CAST(n AS DOUBLE)) AS DECIMAL(20,12))) AS s
        |  FROM ut GROUP BY user_id
        |), h AS (
        |  SELECT user_id,
        |    ln(CAST(n_all AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n_all AS DOUBLE) AS h
        |  FROM u
        |), b AS (
        |  SELECT CASE WHEN h < 0.4 THEN -1 WHEN h < 0.8 THEN 0
        |              WHEN h < 1.2 THEN 1 WHEN h < 1.6 THEN 2 ELSE 3 END AS bin, h
        |  FROM h
        |)
        |SELECT bin, count(*) AS n_users,
        |  round(CAST(sum(CAST(h AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_entropy
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q80_type_affinity" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts, event_id, event_type FROM events
        |), l AS (
        |  SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM e
        |), s AS (
        |  SELECT user_id, event_type,
        |    CAST(sum(CASE WHEN prev_ts IS NULL OR ts - prev_ts > 600000000
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM l
        |), st AS (
        |  SELECT DISTINCT user_id, session_seq, event_type FROM s
        |), ns AS (
        |  SELECT count(*) AS n_sessions
        |  FROM (SELECT DISTINCT user_id, session_seq FROM st)
        |), pt AS (
        |  SELECT event_type, count(*) AS n_t FROM st GROUP BY event_type
        |), pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
        |    AND a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type
        |)
        |SELECT p.type_a, p.type_b, p.n_ab,
        |  round((CAST(p.n_ab AS DOUBLE) * ns.n_sessions)
        |    / (CAST(a.n_t AS DOUBLE) * b.n_t), 6) AS lift
        |FROM pairs p
        |JOIN pt a ON p.type_a = a.event_type
        |JOIN pt b ON p.type_b = b.event_type, ns
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "q81_group_split" ->
      """WITH s AS (
        |  SELECT user_id,
        |    CASE WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 10 < 8
        |           THEN 'train'
        |         WHEN ((user_id * 1103515245 + 12345) % 2147483647) % 10 = 8
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM events
        |), t AS (SELECT count(*) AS n_all FROM events)
        |SELECT s.split, count(DISTINCT s.user_id) AS n_users,
        |  count(*) AS n_events,
        |  round(CAST(count(*) AS DOUBLE) * 100 / t.n_all, 6) AS pct_events
        |FROM s, t GROUP BY s.split, t.n_all ORDER BY s.split""".stripMargin,

    "q82_perplexity_buckets" ->
      s"""WITH tk AS (
        |  SELECT doc_id, source, unnest($toksSql) AS tok FROM documents
        |), c AS (
        |  SELECT tok, count(*) AS nw FROM tk GROUP BY tok
        |), t AS (
        |  SELECT CAST(sum(nw) AS BIGINT) AS n_tokens, count(*) AS v FROM c
        |), lm AS (
        |  SELECT tok, round(-ln((nw + 1.0) / (n_tokens + v)), 6) AS nll
        |  FROM c, t
        |), d AS (
        |  SELECT tk.doc_id, tk.source,
        |    CAST(sum(CAST(lm.nll AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS score
        |  FROM tk JOIN lm USING (tok) GROUP BY tk.doc_id, tk.source
        |)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(20,12))) AS DOUBLE)
        |    / count(*), 6) AS avg_nll,
        |  round(min(score), 6) AS min_nll,
        |  round(max(score), 6) AS max_nll
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    "q83_importance_weights" ->
      s"""WITH tk AS (
        |  SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents
        |), st AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
        |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nr
        |  FROM tk GROUP BY tok
        |), t AS (
        |  SELECT CAST(sum(nt) AS BIGINT) AS t_total,
        |    CAST(sum(nr) AS BIGINT) AS r_total, count(*) AS v FROM st
        |), ratio AS (
        |  SELECT tok, round(ln(((nt + 1.0) / (t_total + v))
        |    / ((nr + 1.0) / (r_total + v))), 6) AS w_lr
        |  FROM st, t
        |)
        |SELECT tk.doc_id, count(*) AS n_tokens,
        |  round(CAST(sum(CAST(ratio.w_lr AS DECIMAL(20,12))) AS DOUBLE), 6)
        |    AS score
        |FROM tk JOIN ratio USING (tok) WHERE tk.lang <> 'en'
        |GROUP BY tk.doc_id
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    "q84_truncation_audit" ->
      s"""WITH lens AS (
        |  SELECT source, doc_id, CAST(len($toksSql) AS BIGINT) AS ntok
        |  FROM documents
        |), caps AS (
        |  SELECT source, quantile_cont(ntok, 0.95) AS p95
        |  FROM lens GROUP BY source
        |)
        |SELECT l.source, count(*) AS n_docs,
        |  CAST(sum(l.ntok) AS BIGINT) AS total_tokens,
        |  round(max(c.p95), 6) AS p95_tokens,
        |  CAST(sum(CASE WHEN l.ntok > CAST(ceiling(c.p95) AS BIGINT)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
        |  CAST(sum(CASE WHEN l.ntok > CAST(ceiling(c.p95) AS BIGINT)
        |    THEN l.ntok - CAST(ceiling(c.p95) AS BIGINT) ELSE 0 END) AS BIGINT)
        |    AS tokens_dropped
        |FROM lens l JOIN caps c ON l.source = c.source
        |GROUP BY l.source ORDER BY l.source""".stripMargin,

    // the full SemDeDup pipeline replayed in SQL: sign-bit hyperplane
    // cells (deterministic — no trained model), within-cell exact cosine
    // at the same 6-dp rounding, components via the same recursive-CTE
    // min-label propagation as the q54 oracle, representative = min id
    "q85_semantic_dedup" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), cells AS (
        |  SELECT vec_id, v,
        |    (CASE WHEN v[1] > 0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v[2] > 0 THEN 2 ELSE 0 END)
        |    + (CASE WHEN v[3] > 0 THEN 4 ELSE 0 END)
        |    + (CASE WHEN v[4] > 0 THEN 8 ELSE 0 END) AS cell_id
        |  FROM e0
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM cells a JOIN cells b
        |    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        |  WHERE round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
        |    >= 0.95
        |), e AS (
        |  SELECT id_a AS id, id_b AS nbr FROM p
        |  UNION
        |  SELECT id_b AS id, id_a AS nbr FROM p
        |), reach(id, r) AS (
        |  SELECT DISTINCT id, id AS r FROM e
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id
        |), comp AS (
        |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT e0.vec_id,
        |  CAST(coalesce(comp.cluster_id, e0.vec_id) AS BIGINT) AS cluster_id,
        |  coalesce(comp.cluster_id, e0.vec_id) = e0.vec_id AS keep
        |FROM e0 LEFT JOIN comp ON e0.vec_id = comp.id
        |ORDER BY e0.vec_id""".stripMargin,

    "q86_chunking_stats" ->
      s"""WITH lens AS (
        |  SELECT source, CAST(len($toksSql) AS BIGINT) AS ntok FROM documents
        |), c AS (
        |  SELECT source, ntok,
        |    CASE WHEN ntok <= 64 THEN 1
        |         ELSE CAST(ceiling((ntok - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
        |  FROM lens
        |), t AS (
        |  SELECT source, ntok, n_chunks,
        |    CASE WHEN ntok <= 64 THEN ntok
        |         ELSE (n_chunks - 1) * 64 + (ntok - (n_chunks - 1) * 48)
        |         END AS chunk_toks
        |  FROM c
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN n_chunks > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_multi_chunk,
        |  CAST(sum(chunk_toks) AS BIGINT) AS chunk_tokens,
        |  round(CAST(sum(chunk_toks) AS DOUBLE) / CAST(sum(ntok) AS BIGINT), 6)
        |    AS inflation
        |FROM t GROUP BY source ORDER BY source""".stripMargin,

    "q87_cross_corpus_dedup" -> crossCorpusSql(""),

    "q88_embed_decontam" ->
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), ev AS (
        |  SELECT vec_id AS eval_id, v AS ev FROM c WHERE vec_id <= 19
        |), p AS (
        |  SELECT c.vec_id, ev.eval_id,
        |    list_dot_product(c.v, ev.ev)
        |      / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ev.ev, ev.ev))) AS sim
        |  FROM c CROSS JOIN ev
        |), f AS (
        |  SELECT vec_id, eval_id, sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, eval_id) AS rn
        |  FROM p WHERE sim >= 0.35
        |)
        |SELECT vec_id, eval_id, round(sim, 6) AS sim
        |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "q89_heavy_hitters" ->
      s"""WITH t AS (
        |  SELECT unnest($toksSql) AS token FROM documents
        |)
        |SELECT token, count(*) AS n FROM t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q90_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN value < 0 THEN -1 WHEN value < 10 THEN 0
        |         WHEN value < 25 THEN 1 WHEN value < 50 THEN 2
        |         WHEN value < 100 THEN 3 WHEN value < 200 THEN 4
        |         ELSE 5 END AS bin,
        |    CAST(event_id % 2 AS INTEGER) AS cur
        |  FROM events
        |), c AS (
        |  SELECT event_type, bin,
        |    CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |    CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
        |  FROM e GROUP BY event_type, bin
        |), g AS (
        |  SELECT t.event_type, CAST(b.bin AS INTEGER) AS bin
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(range(0, 6)) AS bin) b
        |), f AS (
        |  SELECT g.event_type, g.bin,
        |    coalesce(c.nb, 0) AS nb, coalesce(c.nc, 0) AS nc
        |  FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.bin = c.bin
        |), t AS (
        |  SELECT event_type, CAST(sum(nb) AS BIGINT) AS tb,
        |    CAST(sum(nc) AS BIGINT) AS tc
        |  FROM f GROUP BY event_type
        |), x AS (
        |  SELECT f.event_type, t.tb, t.tc,
        |    (CAST(f.nb AS DOUBLE) + 0.5) / (CAST(t.tb AS DOUBLE) + 3.0) AS pb,
        |    (CAST(f.nc AS DOUBLE) + 0.5) / (CAST(t.tc AS DOUBLE) + 3.0) AS pc
        |  FROM f JOIN t ON f.event_type = t.event_type
        |)
        |SELECT event_type, max(tb) AS n_base, max(tc) AS n_cur,
        |  round(CAST(sum(CAST((pc - pb) * ln(pc / pb) AS DECIMAL(20,12))) AS DOUBLE), 6) AS psi
        |FROM x GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q91_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |    round(ln(CAST((doc_id * 1103515245 + 12345) % 2147483647 + 1 AS DOUBLE)
        |      / 2147483648.0) / CAST(n_chars AS DOUBLE), 9) AS es_key
        |  FROM documents
        |)
        |SELECT doc_id, source, w, es_key FROM s
        |ORDER BY es_key DESC, doc_id LIMIT 20""".stripMargin,

    "q92_repeated_spans" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, source, $toksSql AS tk FROM documents
        |), hs AS (
        |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
        |    list_transform(tk, t -> ${ph("t")}) AS hs
        |  FROM t0
        |), pos AS (
        |  SELECT doc_id, u.i AS pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[u.i+1 : u.i+8]),
        |      (acc, h) -> (acc * ${Hashes.SpanGramMul} + h) % ${Hashes.PolyMod}) AS g
        |  FROM hs, UNNEST(range(0, n_tok - 8 + 1)) AS u(i)
        |  WHERE n_tok >= 8
        |), dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, count(*) OVER (PARTITION BY g) AS n_occ FROM pos
        |  ) c WHERE n_occ > 1
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8
        |      THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), isl2 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, island, min(pos) AS span_start, max(pos) + 7 AS span_end
        |  FROM isl2 GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT h.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN coalesce(p.n_spans, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spans,
        |  CAST(sum(coalesce(p.n_spans, 0)) AS BIGINT) AS n_spans,
        |  CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT) AS dup_tokens,
        |  CAST(sum(h.n_tok) AS BIGINT) AS total_tokens,
        |  round((100.0 * CAST(sum(coalesce(p.dup_tokens, 0)) AS BIGINT))
        |    / CAST(sum(h.n_tok) AS BIGINT), 6) AS dup_token_pct
        |FROM hs h LEFT JOIN per_doc p USING (doc_id)
        |GROUP BY h.source ORDER BY h.source""".stripMargin,

    "q93_temp_mixture" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    sqrt(CAST(count(*) AS DOUBLE)) AS scaled
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT CAST(sum(n_docs) AS BIGINT) AS tot,
        |    sum(CAST(scaled AS DECIMAL(28,12))) AS stot
        |  FROM c
        |)
        |SELECT c.source, c.n_docs,
        |  round((CAST(c.n_docs AS DOUBLE) / tot) * 100, 6) AS raw_share_pct,
        |  round((c.scaled / CAST(stot AS DOUBLE)) * 100, 6) AS temp_share_pct,
        |  round((c.scaled / CAST(stot AS DOUBLE)) / (CAST(c.n_docs AS DOUBLE) / tot), 6)
        |    AS upsample_factor
        |FROM c, t ORDER BY c.source""".stripMargin,

    "q94_source_overlap" ->
      s"""WITH t0 AS (
        |  SELECT source, $toksSql AS tk FROM documents
        |), gr AS (
        |  SELECT DISTINCT source, u.g AS g
        |  FROM t0, UNNEST($bigramsFromTkSql) AS u(g)
        |), sz AS (
        |  SELECT source, count(*) AS n FROM gr GROUP BY source
        |), i AS (
        |  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
        |  FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT sa.source AS source_a, sb.source AS source_b,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
        |  round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
        |    / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN i ON i.source_a = sa.source AND i.source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,

    "q95_contam_spans" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, source, $toksSql AS tk FROM documents
        |), hs AS (
        |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
        |    list_transform(tk, t -> ${ph("t")}) AS hs
        |  FROM t0
        |), pos AS (
        |  SELECT doc_id, u.i AS pos,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[u.i+1 : u.i+6]),
        |      (acc, h) -> (acc * ${Hashes.SpanGramMul} + h) % ${Hashes.PolyMod}) AS g
        |  FROM hs, UNNEST(range(0, n_tok - 6 + 1)) AS u(i)
        |  WHERE n_tok >= 6
        |), ev AS (
        |  SELECT DISTINCT g FROM pos WHERE doc_id % 20 = 0
        |), fl AS (
        |  SELECT p.doc_id, p.pos FROM pos p JOIN ev USING (g)
        |  WHERE p.doc_id % 20 <> 0
        |), isl AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 6
        |      THEN 1 ELSE 0 END AS brk
        |  FROM fl
        |), isl2 AS (
        |  SELECT doc_id, pos,
        |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM isl
        |), spans AS (
        |  SELECT doc_id, island, min(pos) AS span_start, max(pos) + 5 AS span_end
        |  FROM isl2 GROUP BY doc_id, island
        |), per_doc AS (
        |  SELECT doc_id, count(*) AS n_spans,
        |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS contam_tokens
        |  FROM spans GROUP BY doc_id
        |)
        |SELECT h.source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN coalesce(p.n_spans, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_contaminated,
        |  CAST(sum(coalesce(p.n_spans, 0)) AS BIGINT) AS n_spans,
        |  CAST(sum(coalesce(p.contam_tokens, 0)) AS BIGINT) AS contam_tokens,
        |  CAST(sum(h.n_tok) AS BIGINT) AS total_tokens,
        |  round((100.0 * CAST(sum(coalesce(p.contam_tokens, 0)) AS BIGINT))
        |    / CAST(sum(h.n_tok) AS BIGINT), 6) AS contam_token_pct
        |FROM hs h LEFT JOIN per_doc p USING (doc_id)
        |WHERE h.doc_id % 20 <> 0
        |GROUP BY h.source ORDER BY h.source""".stripMargin,

    // q96: the full NB train+score pipeline replayed in SQL — weak label
    // from the Gopher battery (q51's fragment), token log-ratios rounded
    // to 6dp, DECIMAL sums for order-free float parity (q82/q83 device)
    "q96_nb_quality" ->
      s"""WITH t AS (
        |  SELECT doc_id, source, text, $toksSql AS tk FROM documents
        |), s AS (
        |  SELECT doc_id, source, tk,
        |    len(tk) AS n_words,
        |    length(array_to_string(tk, '')) AS n_chars2,
        |    len(regexp_extract_all(text, '#|\\.\\.\\.')) AS n_symbols,
        |    len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |    len(tk) - len($contentToksSql) AS n_stop
        |  FROM t
        |), lab AS (
        |  SELECT doc_id, source, tk,
        |    (n_words >= 10 AND n_words <= 100000 AND n_words > 0
        |      AND CAST(n_chars2 AS DOUBLE) / n_words >= 2.0
        |      AND CAST(n_chars2 AS DOUBLE) / n_words <= 10.0
        |      AND CAST(n_symbols AS DOUBLE) / n_words < 0.1
        |      AND CAST(n_alpha AS DOUBLE) / n_words > 0.8
        |      AND n_stop >= 2) AS y
        |  FROM s
        |), tok AS (
        |  SELECT doc_id, y, unnest(tk) AS tok FROM lab
        |), st AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM tok GROUP BY tok
        |), tt AS (
        |  SELECT CAST(sum(np) AS BIGINT) AS p_total,
        |    CAST(sum(nn) AS BIGINT) AS n_total, count(*) AS v FROM st
        |), w AS (
        |  SELECT tok, round(ln(((np + 1.0) / (p_total + v))
        |    / ((nn + 1.0) / (n_total + v))), 6) AS w_lr
        |  FROM st, tt
        |), pr AS (
        |  SELECT round(ln((sum(CASE WHEN y THEN 1 ELSE 0 END) + 1.0)
        |    / (sum(CASE WHEN y THEN 0 ELSE 1 END) + 1)), 6) AS prior FROM lab
        |), ds AS (
        |  SELECT tok.doc_id,
        |    CAST(sum(CAST(w.w_lr AS DECIMAL(20,12))) AS DOUBLE) AS wsum
        |  FROM tok JOIN w USING (tok) GROUP BY tok.doc_id
        |), sc AS (
        |  SELECT lab.doc_id, lab.source, lab.y,
        |    round(pr.prior + coalesce(ds.wsum, 0), 6) AS score
        |  FROM lab LEFT JOIN ds ON lab.doc_id = ds.doc_id, pr
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_weak_pass,
        |  CAST(sum(CASE WHEN score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pass,
        |  round(100.0 * sum(CASE WHEN y = (score >= 0) THEN 1 ELSE 0 END)
        |    / count(*), 4) AS agreement_pct,
        |  round(CAST(sum(CAST(score AS DECIMAL(20,12))) AS DOUBLE)
        |    / count(*), 6) AS avg_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    // q97: brute-force hard negatives — same shape as the kNN oracle plus
    // the different-label predicate in the pair join
    "q97_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
        |), p AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    round(list_dot_product(q.v, c.v)
        |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
        |  FROM e q JOIN e c
        |    ON q.vec_id <= 49 AND c.vec_id <> q.vec_id AND c.label <> q.label
        |), r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
        |  FROM p
        |)
        |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // q98: aggressive-normalization dedup audit; \p{L}\p{N} classes agree
    // between Java regex (Spark) and RE2 (DuckDB). The Spark side groups
    // on xxhash64(normalized) while this groups on the string itself —
    // the collision probability and the lower()-parity argument (both
    // engines use 1:1 simple case mapping, no special casefolds) are
    // documented at Dedup.normalizedDupAudit.
    "q98_norm_dedup" ->
      """WITH k AS (
        |  SELECT source,
        |    trim(regexp_replace(lower(text), '[^\p{L}\p{N}]+', ' ', 'g')) AS nk
        |  FROM documents
        |), g AS (
        |  SELECT source, nk, count(*) AS n FROM k GROUP BY source, nk
        |)
        |SELECT source,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(n) - count(*) AS BIGINT) AS dup_docs,
        |  round(100.0 * (sum(n) - count(*)) / sum(n), 4) AS dup_pct
        |FROM g GROUP BY source ORDER BY source""".stripMargin,

    // q99: full minhash pipeline replay (the q19 CTE chain), then the
    // threshold tuning curve — per-doc MAX pair similarity folds
    // docs-touched-at-t, DECIMAL sums keep the mean order-free. LEFT
    // JOIN from the threshold list (not CROSS JOIN against the pairs):
    // an EMPTY verified-pair set still emits one zero-count row per
    // threshold, exactly like the Spark side's coalesced conditional
    // sums — a corpus where q19 finds no pairs stays hash-green.
    "q99_threshold_sweep" ->
      s"""WITH $minhashCtesSql,
        |pm AS (
        |  SELECT id_a, id_b, jac FROM verified WHERE jac >= 0.5
        |), dm AS (
        |  SELECT did, max(jac) AS m FROM (
        |    SELECT id_a AS did, jac FROM pm
        |    UNION ALL
        |    SELECT id_b AS did, jac FROM pm
        |  ) GROUP BY did
        |), ts AS (
        |  SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE) AS t
        |), p AS (
        |  SELECT ts.t,
        |    CAST(count(pm.jac) AS BIGINT) AS n_pairs,
        |    round(CAST(sum(CAST(pm.jac AS DECIMAL(20,12))) AS DOUBLE)
        |      / count(pm.jac), 6) AS avg_sim
        |  FROM ts LEFT JOIN pm ON pm.jac >= ts.t GROUP BY ts.t
        |), d AS (
        |  SELECT ts.t,
        |    CAST(count(dm.m) AS BIGINT) AS n_docs
        |  FROM ts LEFT JOIN dm ON dm.m >= ts.t GROUP BY ts.t
        |)
        |SELECT p.t AS threshold, p.n_pairs, d.n_docs, p.avg_sim
        |FROM p JOIN d ON p.t = d.t ORDER BY threshold""".stripMargin,

    // q100: the kept set re-derived exactly — Knuth multiplicative key
    // is pure 64-bit integer arithmetic, identical in both engines, so
    // kept_id_sum pins WHICH rows were selected, not just how many.
    // The id folds through pmod(., 2^31) BEFORE the multiply (identity
    // for ids < 2^31, i.e. every id here) so the product can never
    // exceed 2^63-1: without the fold, ids past ~3.47e9 would silently
    // wrap in Spark but raise on BIGINT overflow in DuckDB.
    "q100_balanced_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY (((doc_id % 2147483648) + 2147483648) % 2147483648
        |                * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents
        |)
        |SELECT source AS class,
        |  CAST(count(*) AS BIGINT) AS n_before,
        |  CAST(count(CASE WHEN rn <= 15 THEN 1 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= 15 THEN doc_id END) AS BIGINT) AS kept_id_sum
        |FROM k GROUP BY source ORDER BY class""".stripMargin,

    // q101: Zipf rank-frequency slope — each ln() rounds into
    // DECIMAL(12,6) BEFORE the products so all sums are exact and
    // order-free; ln agrees to >=6dp across engines on integer inputs
    // (the q96 precedent); ties rank by token.
    "q101_zipf_audit" ->
      s"""WITH tk AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents
        |), c AS (
        |  SELECT source, tok, count(*) AS n FROM tk GROUP BY source, tok
        |), r AS (
        |  SELECT source, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rk
        |  FROM c
        |), t AS (
        |  SELECT source,
        |    CAST(ln(rk) AS DECIMAL(12,6)) AS x,
        |    CAST(ln(n) AS DECIMAL(12,6)) AS y
        |  FROM r WHERE rk <= 100
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS top_k,
        |  round(CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS DOUBLE)
        |    / CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS DOUBLE), 6) AS zipf_slope
        |FROM t GROUP BY source
        |HAVING count(*) >= 2
        |ORDER BY source""".stripMargin,

    // q102: the band-bucket cap's flagged accounting — bucket sizes from
    // the same banding chain as q19 (only the CTEs up to `bands` are
    // referenced; the unreferenced tail is never executed), integer DIV
    // keeps the pair mass exact.
    "q102_lsh_bucket_audit" ->
      s"""WITH $minhashCtesSql,
        |s AS (
        |  SELECT band_id, band_key, count(*) AS n
        |  FROM bands GROUP BY band_id, band_key
        |)
        |SELECT band_id,
        |  CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN n > ${Dedup.DefaultMaxBucket} THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN n > ${Dedup.DefaultMaxBucket} THEN n ELSE 0 END) AS BIGINT) AS rows_in_flagged,
        |  CAST(max(n) AS BIGINT) AS max_bucket,
        |  CAST(sum(CASE WHEN n <= ${Dedup.DefaultMaxBucket} THEN (n * (n - 1)) // 2 ELSE 0 END) AS BIGINT) AS cand_pairs_kept,
        |  CAST(sum(CASE WHEN n > ${Dedup.DefaultMaxBucket} THEN (n * (n - 1)) // 2 ELSE 0 END) AS BIGINT) AS cand_pairs_skipped
        |FROM s GROUP BY band_id ORDER BY band_id""".stripMargin,

    // q103: exact-dup pre-collapse replayed independently — docs group by
    // their SORTED distinct-shingle list (set identity; the min-id
    // representative per group is engine-independent regardless of each
    // engine's sort), the capped chain runs over representatives only,
    // then membership re-expands: cross-group pairs at the reps' exact
    // jac, within-group pairs at exactly 1.0.
    "q103_precollapse_neardup" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, $toksSql AS tk FROM documents
        |), toks AS (
        |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
        |), grp AS (
        |  SELECT doc_id, list_sort(sh) AS kk FROM toks WHERE len(sh) > 0
        |), mem AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY kk) AS rep, kk FROM grp
        |), rtoks AS (
        |  SELECT rep AS doc_id, kk AS sh FROM mem WHERE doc_id = rep
        |), ${minhashChainCtes("rtoks", "r")},
        |exp AS (
        |  SELECT least(ma.doc_id, mb.doc_id) AS id_a,
        |    greatest(ma.doc_id, mb.doc_id) AS id_b, v.jac
        |  FROM rverified v
        |  JOIN mem ma ON ma.rep = v.id_a
        |  JOIN mem mb ON mb.rep = v.id_b
        |  WHERE v.jac >= 0.5
        |), win AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(1.0 AS DOUBLE) AS jac
        |  FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, jac FROM exp
        |UNION ALL
        |SELECT id_a, id_b, jac FROM win
        |ORDER BY id_a, id_b""".stripMargin,

    // q104: per-source centroid (SUM) vectors re-derived exactly — each
    // element sums as DECIMAL(20,12) (order-free; cosine is
    // scale-invariant so sum ≡ mean), then the q18 list_dot_product +
    // round(6) cosine precedent over the 64-d centroid lists.
    "q104_source_centroids" -> {
      val sumExprs = (1 to 64)
        .map(i => s"CAST(sum(CAST(v[$i] AS DECIMAL(20,12))) AS DOUBLE)")
        .mkString(", ")
      s"""WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), j AS (
        |  SELECT d.source, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id
        |), c AS (
        |  SELECT source, [$sumExprs] AS c FROM j GROUP BY source
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  round(list_dot_product(a.c, b.c)
        |    / (sqrt(list_dot_product(a.c, a.c)) * sqrt(list_dot_product(b.c, b.c))), 6) AS cos_sim
        |FROM c a JOIN c b ON a.source < b.source
        |ORDER BY source_a, source_b""".stripMargin
    },

    // q105: the incremental plan's contract IS the full capped run
    // restricted to pairs touching the delta (doc_id % 5 = 0) — so the
    // oracle runs the identical full chain and filters, while the Spark
    // side must reach the same rows without ever forming a base×base
    // candidate.
    "q105_incremental_dedup" ->
      s"""WITH $minhashCtesSql
         |SELECT id_a, id_b, jac FROM verified
         |WHERE jac >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0)
         |ORDER BY id_a, id_b""".stripMargin,

    // q106: UniMax water-filling replayed in SQL — exact DECIMAL caps and
    // prefix sums, the bound test f(r) = pfx + cap·(S−r) ≤ budget per
    // row (f is non-decreasing so the test marks the bound prefix), and
    // the water level as the single double division rounded to 6.
    // q107: within-source dispersion re-derived — per-element DECIMAL
    // sums (Σx per position, Σ‖x‖² as the per-row 64-term decimal sum:
    // the identical term set the Spark side's exploded sum accumulates),
    // then the closed-form combine n·Σ‖x‖² − ‖Σx‖² with the q104-style
    // list_dot_product over the centroid-sum doubles, rounded 6.
    "q107_source_dispersion" -> {
      val sumExprs = (1 to 64)
        .map(i => s"CAST(sum(CAST(v[$i] AS DECIMAL(20,12))) AS DOUBLE)")
        .mkString(", ")
      val sqExprs = (1 to 64)
        .map(i => s"CAST(v[$i] * v[$i] AS DECIMAL(20,12))")
        .mkString(" + ")
      s"""WITH e AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
         |), j AS (
         |  SELECT d.source, e.v FROM e JOIN documents d ON d.doc_id = e.vec_id
         |), c AS (
         |  SELECT source, count(*) AS n,
         |    [$sumExprs] AS c,
         |    CAST(sum($sqExprs) AS DOUBLE) AS qq
         |  FROM j GROUP BY source HAVING count(*) >= 2
         |)
         |SELECT source, n AS n_vecs,
         |  round((n * qq - list_dot_product(c, c)) / ((n * (n - 1)) / 2.0), 6) AS mean_sq_dist,
         |  round(sqrt(qq / n), 6) AS rms_norm
         |FROM c ORDER BY source""".stripMargin
    },

    "q106_unimax_mixture" ->
      s"""WITH tc AS (
         |  SELECT source, CAST(sum(len($toksSql)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source
         |), c AS (
         |  SELECT source, n_tokens,
         |    CAST(CAST(n_tokens AS DECIMAL(20,4)) * CAST(1.4 AS DECIMAL(8,4)) AS DECIMAL(24,4)) AS cap
         |  FROM tc
         |), t AS (
         |  SELECT CAST(CAST(sum(n_tokens) AS DECIMAL(24,4)) * CAST(1.25 AS DECIMAL(8,4)) AS DECIMAL(28,4)) AS budget,
         |    count(*) AS s FROM tc
         |), r AS (
         |  SELECT c.source, c.n_tokens, c.cap, t.budget, t.s,
         |    CAST(row_number() OVER (ORDER BY c.cap, c.source) AS BIGINT) AS rk,
         |    sum(c.cap) OVER (ORDER BY c.cap, c.source ROWS UNBOUNDED PRECEDING) AS pfx
         |  FROM c, t
         |), b AS (
         |  SELECT *, (pfx + cap * (s - rk)) <= budget AS bound FROM r
         |), l AS (
         |  SELECT coalesce(sum(CASE WHEN bound THEN cap END), 0) AS bp,
         |    CAST(sum(CASE WHEN bound THEN 1 ELSE 0 END) AS BIGINT) AS j FROM b
         |), a AS (
         |  SELECT source, n_tokens, bound,
         |    CASE WHEN bound THEN CAST(cap AS DOUBLE)
         |         ELSE round(CAST(budget - bp AS DOUBLE) / (s - j), 6) END AS alloc_tokens
         |  FROM b, l
         |)
         |SELECT source, n_tokens, bound, alloc_tokens,
         |  CASE WHEN n_tokens > 0 THEN round(alloc_tokens / n_tokens, 6) ELSE 0.0 END AS epochs
         |FROM a ORDER BY source""".stripMargin,

    // q108: clusters replayed with the q54 recursive CTE over the SAME
    // capped chain, then the quality argmax re-derived with a window
    // (n_tok DESC, doc_id ASC) — the kept_id_sum checksum pins the EXACT
    // kept set, so the Spark side's no-window struct-max argmax is
    // hash-proven equivalent to the oracle's row_number formulation.
    "q108_best_dedup" ->
      s"""WITH RECURSIVE $minhashCtesSql,
        |pairs AS (SELECT id_a, id_b FROM verified WHERE jac >= 0.5),
        |e AS (
        |  SELECT id_a AS id, id_b AS nbr FROM pairs
        |  UNION
        |  SELECT id_b AS id, id_a AS nbr FROM pairs
        |), reach(id, r) AS (
        |  SELECT DISTINCT id, id AS r FROM e
        |  UNION
        |  SELECT e.id, reach.r FROM e JOIN reach ON e.nbr = reach.id
        |), cl AS (
        |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
        |), nd AS (
        |  SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tok
        |  FROM documents
        |), w AS (
        |  SELECT cl.cluster_id, d.doc_id,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY d.n_tok DESC, d.doc_id ASC) AS rk
        |  FROM cl JOIN nd d ON d.doc_id = cl.id
        |), losers AS (
        |  SELECT doc_id FROM w WHERE rk > 1
        |)
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN l.doc_id IS NULL THEN d.doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
        |FROM nd d LEFT JOIN losers l USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // q109: the q92 rolling-gram chain with the X77-pattern LCG split
    // (id folded into [0,2^31) before the multiply — never exceeds 2^61,
    // engine-identical). Heldout docs shorter than 8 tokens have no
    // grams and count clean via the LEFT JOIN.
    "q109_split_leakage" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, source, $toksSql AS tk FROM documents
        |), hs AS (
        |  SELECT doc_id, source, CAST(len(tk) AS BIGINT) AS n_tok,
        |    list_transform(tk, t -> ${ph("t")}) AS hs,
        |    ((((doc_id % 2147483648) * 1103515245 + 12345) % 2147483647) % 10) = 9 AS held
        |  FROM t0
        |), grams AS (
        |  SELECT doc_id, source, held,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), hs[u.i+1 : u.i+8]),
        |      (acc, h) -> (acc * ${Hashes.SpanGramMul} + h) % ${Hashes.PolyMod}) AS g
        |  FROM hs, UNNEST(range(0, n_tok - 8 + 1)) AS u(i)
        |  WHERE n_tok >= 8
        |), train_g AS (
        |  SELECT DISTINCT g FROM grams WHERE NOT held
        |), held_g AS (
        |  SELECT DISTINCT doc_id, source, g FROM grams WHERE held
        |), hit AS (
        |  SELECT h.doc_id, h.source, h.g FROM held_g h JOIN train_g USING (g)
        |), per_src AS (
        |  SELECT source, count(DISTINCT doc_id) AS n_contam_docs,
        |    count(DISTINCT g) AS n_overlap_grams
        |  FROM hit GROUP BY source
        |), held_docs AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_held_docs
        |  FROM hs WHERE held GROUP BY source
        |)
        |SELECT d.source, d.n_held_docs,
        |  CAST(coalesce(p.n_contam_docs, 0) AS BIGINT) AS n_contam_docs,
        |  round(CAST(coalesce(p.n_contam_docs, 0) AS DOUBLE) * 100
        |    / d.n_held_docs, 6) AS contam_pct,
        |  CAST(coalesce(p.n_overlap_grams, 0) AS BIGINT) AS n_overlap_grams
        |FROM held_docs d LEFT JOIN per_src p USING (source)
        |ORDER BY d.source""".stripMargin,

    // q110: the Knuth scramble re-derived in SQL (fold into [0,2^31)
    // before the multiply — products stay under 2^63 in both engines);
    // the id_sum checksum makes any misrouted doc a hash mismatch.
    "q110_shard_audit" ->
      s"""WITH a AS (
        |  SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tok,
        |    (((doc_id % 2147483648) * 2654435761) % 4294967296) % 16 AS shard
        |  FROM documents
        |)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM a GROUP BY shard ORDER BY shard""".stripMargin,

    // q113 is q22's contract through the pre-collapse path: same output
    // by construction, so the oracle replays q22's all-pairs SQL — the
    // oracle gate IS the equivalence proof at data scale.
    "q113_collapsed_jaccard" ->
      s"""WITH t0 AS (
        |  SELECT lang, doc_id, $toksSql AS tk FROM documents
        |), d AS (
        |  SELECT lang, doc_id, list_distinct($bigramsFromTkSql) AS sh FROM t0
        |)
        |SELECT a.lang AS lang, a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jac
        |FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        |ORDER BY jac DESC, id_a, id_b LIMIT 20""".stripMargin,

    // X119: the add-one bigram LM replayed in SQL — bigrams from the
    // same list device as q55/q113 (tokens are whitespace-split, so the
    // "w1 w2" string key is injective and split_part recovers the
    // context); NLL rounds to 6dp before DECIMAL sums, the q82 contract.
    "q114_bigram_perplexity" ->
      s"""WITH t0 AS (
        |  SELECT doc_id, source, $toksSql AS tk FROM documents
        |), tf AS (
        |  SELECT doc_id, source, tk FROM t0 WHERE len(tk) >= 2
        |), bg AS (
        |  SELECT doc_id, source, unnest($bigramsFromTkSql) AS b FROM tf
        |), cb AS (
        |  SELECT b, count(*) AS nbg FROM bg GROUP BY b
        |), cu AS (
        |  SELECT split_part(b, ' ', 1) AS w1, CAST(sum(nbg) AS BIGINT) AS nw1
        |  FROM cb GROUP BY 1
        |), vocab AS (
        |  SELECT count(*) AS v FROM (SELECT DISTINCT unnest($toksSql) AS tok FROM documents)
        |), lm AS (
        |  SELECT cb.b, round(-ln((cb.nbg + 1.0) / (cu.nw1 + vocab.v)), 6) AS nll
        |  FROM cb JOIN cu ON split_part(cb.b, ' ', 1) = cu.w1 CROSS JOIN vocab
        |), d AS (
        |  SELECT bg.doc_id, bg.source,
        |    CAST(sum(CAST(lm.nll AS DECIMAL(20,12))) AS DOUBLE) / count(*) AS score
        |  FROM bg JOIN lm USING (b) GROUP BY bg.doc_id, bg.source
        |)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(round(score, 6) AS DECIMAL(20,12))) AS DOUBLE)
        |    / count(*), 6) AS avg_nll,
        |  round(min(score), 6) AS min_nll,
        |  round(max(score), 6) AS max_nll
        |FROM d GROUP BY source ORDER BY source""".stripMargin,

    // X122: per-doc byte/char/subword-per-token ratios round to 6dp, then
    // the DECIMAL-mean device (order-free). strlen = bytes in DuckDB
    // (Spark octet_length); zero-token docs drop on both sides.
    "q115_fertility" ->
      s"""WITH d AS (
        |  SELECT source,
        |    strlen(text) AS b, length(text) AS ch,
        |    len($toksSql) AS nws,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS nbpe
        |  FROM documents
        |), f AS (
        |  SELECT source,
        |    round(CAST(b AS DOUBLE) / nws, 6) AS bpt,
        |    round(CAST(ch AS DOUBLE) / nws, 6) AS cpt,
        |    round(CAST(nbpe AS DOUBLE) / nws, 6) AS fert
        |  FROM d WHERE nws >= 1
        |)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(bpt AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_bytes_per_tok,
        |  round(CAST(sum(CAST(cpt AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_chars_per_tok,
        |  round(CAST(sum(CAST(fert AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_bpe_fertility
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    // X123: the oracle explodes characters (fine at oracle scale; the
    // Spark side histograms map-only instead) and replays the entropy
    // fold term-for-term: p = cnt/len in DOUBLE, ln rounds to 6dp before
    // the product, terms round to 12dp into DECIMAL so the sum is
    // order-free, and the final entropy rounds to 6dp.
    "q116_char_entropy" ->
      """WITH pos AS (
        |  SELECT doc_id, source, text, unnest(generate_series(1, length(text))) AS i
        |  FROM documents WHERE length(text) >= 1
        |), hist AS (
        |  SELECT doc_id, source, substring(text, i, 1) AS c, count(*) AS cnt
        |  FROM pos GROUP BY 1, 2, 3
        |), lens AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS len FROM hist GROUP BY 1
        |), ent AS (
        |  SELECT h.doc_id, h.source,
        |    round(-CAST(sum(CAST(round(
        |      (h.cnt / CAST(l.len AS DOUBLE)) *
        |      round(ln(h.cnt / CAST(l.len AS DOUBLE)), 6), 12) AS DECIMAL(20,14))) AS DOUBLE), 6) AS entropy
        |  FROM hist h JOIN lens l USING (doc_id) GROUP BY 1, 2
        |)
        |SELECT source, count(*) AS n_docs,
        |  round(CAST(sum(CAST(entropy AS DECIMAL(20,12))) AS DOUBLE) / count(*), 6) AS avg_entropy,
        |  round(min(entropy), 6) AS min_entropy,
        |  round(max(entropy), 6) AS max_entropy,
        |  round(CAST(sum(CASE WHEN entropy < 2.0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS low_share
        |FROM ent GROUP BY source ORDER BY source""".stripMargin,

    // X124: the unigram-distribution triple replayed in SQL — one
    // (source, token) count, totals folded from it, the same
    // round-ln-before-products / 12dp-terms-into-DECIMAL contract.
    "q117_token_divergence" ->
      s"""WITH tk AS (
        |  SELECT source, unnest($toksSql) AS tok FROM documents
        |), st AS (
        |  SELECT source, tok, count(*) AS n_st FROM tk GROUP BY 1, 2
        |), s AS (
        |  SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY 1
        |), c AS (
        |  SELECT tok, CAST(sum(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1
        |), n AS (
        |  SELECT CAST(sum(n_t) AS BIGINT) AS n FROM c
        |), terms AS (
        |  SELECT st.source,
        |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
        |      round(ln((st.n_st / CAST(s.n_s AS DOUBLE)) /
        |                (c.n_t / CAST(n.n AS DOUBLE))), 6), 12) AS klt,
        |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
        |      round(ln(st.n_st / CAST(s.n_s AS DOUBLE)), 6), 12) AS ht,
        |    round((st.n_st / CAST(s.n_s AS DOUBLE)) *
        |          (st.n_st / CAST(s.n_s AS DOUBLE)), 12) AS sqt
        |  FROM st JOIN s USING (source) JOIN c USING (tok) CROSS JOIN n
        |)
        |SELECT source, count(*) AS n_types,
        |  round(CAST(sum(CAST(klt AS DECIMAL(20,14))) AS DOUBLE), 6) AS kl_vs_corpus,
        |  round(-CAST(sum(CAST(ht AS DECIMAL(20,14))) AS DOUBLE), 6) AS token_entropy,
        |  round(CAST(sum(CAST(sqt AS DECIMAL(20,14))) AS DOUBLE), 6) AS simpson
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // X125: boundary keys where some doc's leading k tokens equal another
    // doc's trailing k tokens; counts, never pair enumeration. k=3 for
    // the synthetic corpus's 31-word vocabulary.
    "q118_chunk_stitch" ->
      s"""WITH t AS (
        |  SELECT doc_id, $toksSql AS tk FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    array_to_string(tk[1:3], ' ') AS head,
        |    array_to_string(tk[-3:], ' ') AS tail
        |  FROM t WHERE len(tk) >= 6
        |), h AS (
        |  SELECT head AS boundary_key, count(*) AS n_heads FROM f GROUP BY 1
        |), tl AS (
        |  SELECT tail AS boundary_key, count(*) AS n_tails FROM f GROUP BY 1
        |), s AS (
        |  SELECT head AS boundary_key, count(*) AS n_self
        |  FROM f WHERE head = tail GROUP BY 1
        |)
        |SELECT h.boundary_key, h.n_heads, tl.n_tails,
        |  coalesce(s.n_self, CAST(0 AS BIGINT)) AS n_self,
        |  h.n_heads * tl.n_tails - coalesce(s.n_self, CAST(0 AS BIGINT)) AS stitch_pairs
        |FROM h JOIN tl USING (boundary_key) LEFT JOIN s USING (boundary_key)
        |WHERE h.n_heads * tl.n_tails - coalesce(s.n_self, CAST(0 AS BIGINT)) >= 1
        |ORDER BY stitch_pairs DESC, boundary_key LIMIT 20""".stripMargin,

    // X126: decile-grid KS over n_chars — quantile_cont matches Spark's
    // exact interpolated percentile (the q46 parity); both CDFs are
    // conditional sums against the same nine boundaries.
    "q119_length_divergence" -> {
      val sumsFor = (p: String) => (1 to 9).map(i =>
        s"sum(CASE WHEN n_chars <= b.qs[$i] THEN 1 ELSE 0 END) AS $p$i").mkString(",\n        |    ")
      val ks = (1 to 9).map(i =>
        s"abs(CAST(s$i AS DOUBLE) / n_docs - CAST(t$i AS DOUBLE) / n)").mkString(",\n        |    ")
      s"""WITH b AS (
        |  SELECT quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
        |  FROM documents
        |), src AS (
        |  SELECT source, count(*) AS n_docs,
        |    ${sumsFor("s")}
        |  FROM documents, b GROUP BY source
        |), tot AS (
        |  SELECT count(*) AS n,
        |    ${sumsFor("t")}
        |  FROM documents, b
        |)
        |SELECT source, n_docs,
        |  round(greatest(
        |    $ks), 6) AS ks_stat
        |FROM src, tot ORDER BY source""".stripMargin
    },

    // X127: families keyed on the q09 normalized text; members of an
    // exact family share text hence token counts, so removable tokens per
    // family = total − one kept copy.
    "q120_dup_families" ->
      s"""WITH d AS (
        |  SELECT $normTextSql AS t,
        |    CAST(len($toksSql) AS BIGINT) AS tok
        |  FROM documents
        |), f AS (
        |  SELECT t, count(*) AS s, CAST(sum(tok) AS BIGINT) AS toks,
        |    min(tok) AS tok1
        |  FROM d GROUP BY t
        |)
        |SELECT s AS family_size, count(*) AS n_families,
        |  CAST(sum(s) AS BIGINT) AS n_docs,
        |  CAST(sum(s - 1) AS BIGINT) AS removable_docs,
        |  CAST(sum(toks - tok1) AS BIGINT) AS removable_tokens
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // X128: every rule is the same closed-form arithmetic over the
    // lowercased whitespace tokens; booleans fold as conditional sums.
    "q121_gopher_rules" -> {
      val toksL = """list_filter(string_split_regex(lower(text), '\s+'), t -> length(t) > 0)"""
      val stopList = graft.operators.TextAnalysis.GopherStopwords
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH d AS (
        |  SELECT source,
        |    CAST(len($toksL) AS BIGINT) AS ntok,
        |    CAST(list_aggregate(list_transform($toksL, t -> length(t)), 'sum') AS BIGINT) AS chars,
        |    CAST(len(list_filter($toksL, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha,
        |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS symbols,
        |    CAST(len(list_intersect(list_distinct($toksL), $stopList)) AS BIGINT) AS stops
        |  FROM documents
        |), r AS (
        |  SELECT source,
        |    (ntok >= 5 AND ntok <= 100000) AS r_words,
        |    (ntok > 0 AND CAST(chars AS DOUBLE) / ntok >= 3.0
        |      AND CAST(chars AS DOUBLE) / ntok <= 10.0) AS r_mean_len,
        |    (ntok > 0 AND CAST(alpha AS DOUBLE) >= 0.8 * CAST(ntok AS DOUBLE)) AS r_alpha,
        |    (ntok > 0 AND CAST(symbols AS DOUBLE) <= 0.1 * CAST(ntok AS DOUBLE)) AS r_symbol,
        |    (stops >= 2) AS r_stop
        |  FROM d
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN r_words THEN 1 ELSE 0 END) AS BIGINT) AS n_words,
        |  CAST(sum(CASE WHEN r_mean_len THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_len,
        |  CAST(sum(CASE WHEN r_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
        |  CAST(sum(CASE WHEN r_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
        |  CAST(sum(CASE WHEN r_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
        |  CAST(sum(CASE WHEN r_words AND r_mean_len AND r_alpha AND r_symbol AND r_stop
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |  round(CAST(sum(CASE WHEN r_words AND r_mean_len AND r_alpha AND r_symbol AND r_stop
        |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pass_rate
        |FROM r GROUP BY source ORDER BY source""".stripMargin
    },

    // q122: the composed curate pipeline's ENTIRE keep-decision chain
    // re-derived in SQL — exact dedup (min-id per normalized text), the
    // capped minhash chain + recursive clustering + best-keep argmax
    // (the q19/q108 CTEs over the exact survivors), the q121 Gopher
    // rules, q57's trigram decontamination (benchmark split defined on
    // the RAW corpus), q58's curriculum keep, q106's UniMax water-fill
    // applied via the copy-explode device, and q110's Knuth shard hash.
    // One accounting row per stage; the shards row weights each id by
    // (shard+1), so one misrouted doc anywhere breaks the hash.
    "q122_curate_pipeline" -> {
      val phCopy = ph("CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR)")
      s"""WITH RECURSIVE qsrc AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source FROM documents
        |), ${curateChainCtes("", "qsrc")},
        |mix AS (
        |  SELECT doc_id, source, n_tok, u.copy AS copy FROM (
        |    SELECT c.doc_id, c.source, c.n_tok, ue.epochs
        |    FROM cur c JOIN ue USING (source)
        |  ) x, UNNEST(range(1, CAST(ceil(x.epochs) AS BIGINT) + 1)) AS u(copy)
        |  WHERE u.copy <= floor(x.epochs)
        |     OR CAST(($phCopy) % 1000003 AS DOUBLE) / 1000003.0 < x.epochs - floor(x.epochs)
        |), shrd AS (
        |  SELECT doc_id, n_tok,
        |    ((((doc_id * 37 + copy) % 2147483648) * 2654435761) % 4294967296) % 16 AS shard
        |  FROM mix
        |)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM b2
        |  UNION ALL SELECT CAST(1 AS INTEGER), 'exact', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM exact
        |  UNION ALL SELECT CAST(2 AS INTEGER), 'neardup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM nd
        |  UNION ALL SELECT CAST(3 AS INTEGER), 'quality', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM quality
        |  UNION ALL SELECT CAST(4 AS INTEGER), 'decontam', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dec
        |  UNION ALL SELECT CAST(5 AS INTEGER), 'curriculum', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM cur
        |  UNION ALL SELECT CAST(6 AS INTEGER), 'mixture', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM mix
        |  UNION ALL SELECT CAST(7 AS INTEGER), 'shards', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
        |    CAST(coalesce(sum(doc_id * (shard + 1)), 0) AS BIGINT) FROM shrd
        |) ORDER BY stage_idx""".stripMargin
    },

    // q123: the INCREMENTAL curate path replayed end to end — the full
    // chain runs over the 99% side (doc_id%100<>7) to derive the frozen
    // parameters exactly as the oracle-proven q122 chain does, then the
    // 1% delta side replays runIncremental's keep-decision semantics
    // against them: banked norms win exact, the combined-population
    // banded chain scores only delta-touching pairs (existing docs win
    // cross contests, delta-delta contests cluster + best-keep), frozen
    // decile bounds grade curriculum (strictly-below count + 1), frozen
    // epochs drive the mixture (unseen sources 1.0), identical shard
    // routing. One accounting row per delta stage.
    "q123_incremental_curate" -> {
      val phCopy = ph("CAST(doc_id AS VARCHAR) || '#' || CAST(copy AS VARCHAR)")
      s"""WITH RECURSIVE fsrc AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 100 <> 7
        |), dsrc AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 100 = 7
        |), ${curateChainCtes("f", "fsrc")},
        |db2 AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source,
        |    CAST(len($toksSql) AS BIGINT) AS n_tok,
        |    $normTextSql AS norm
        |  FROM dsrc
        |), dexact AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source, n_tok FROM (
        |    SELECT d.*, min(d.doc_id) OVER (PARTITION BY d.norm) AS _k
        |    FROM db2 d LEFT JOIN (
        |      SELECT DISTINCT (${ph("norm")}) * 2147483648
        |        + (${ph2("norm")}) AS fp FROM fb2) b
        |      ON (${ph("d.norm")}) * 2147483648 + (${ph2("d.norm")}) = b.fp
        |    WHERE b.fp IS NULL
        |  ) WHERE doc_id = _k
        |), cmb AS MATERIALIZED (
        |  SELECT doc_id, text FROM fnd UNION ALL SELECT doc_id, text FROM dexact
        |), ct0 AS (
        |  SELECT doc_id, $toksSql AS tk FROM cmb
        |), ctoks AS MATERIALIZED (
        |  SELECT doc_id, list_distinct($bigramsFromTkSql) AS sh FROM ct0
        |), ${minhashChainCtes("ctoks", "c")},
        |dids AS (SELECT doc_id FROM dexact),
        |dflag AS (
        |  SELECT p.id_a, p.id_b,
        |    (a.doc_id IS NOT NULL) AS ina, (b.doc_id IS NOT NULL) AS inb
        |  FROM (SELECT id_a, id_b FROM cverified WHERE jac >= 0.5) p
        |  LEFT JOIN dids a ON p.id_a = a.doc_id
        |  LEFT JOIN dids b ON p.id_b = b.doc_id
        |  WHERE a.doc_id IS NOT NULL OR b.doc_id IS NOT NULL
        |), ddropex AS (
        |  SELECT DISTINCT CASE WHEN ina THEN id_a ELSE id_b END AS doc_id
        |  FROM dflag WHERE ina <> inb
        |), ddpairs AS (SELECT id_a, id_b FROM dflag WHERE ina AND inb),
        |de AS (
        |  SELECT id_a AS id, id_b AS nbr FROM ddpairs
        |  UNION
        |  SELECT id_b AS id, id_a AS nbr FROM ddpairs
        |), dreach(id, r) AS (
        |  SELECT DISTINCT id, id AS r FROM de
        |  UNION
        |  SELECT de.id, dreach.r FROM de JOIN dreach ON de.nbr = dreach.id
        |), dcl AS (
        |  SELECT id, min(r) AS cluster_id FROM dreach GROUP BY id
        |), dsurv0 AS (
        |  SELECT x.* FROM dexact x LEFT JOIN ddropex l USING (doc_id)
        |  WHERE l.doc_id IS NULL
        |), dwnd AS (
        |  SELECT dcl.cluster_id, x.doc_id,
        |    row_number() OVER (PARTITION BY dcl.cluster_id
        |      ORDER BY x.n_tok DESC, x.doc_id ASC) AS rk
        |  FROM dcl JOIN dsurv0 x ON x.doc_id = dcl.id
        |), dlosers AS (SELECT doc_id FROM dwnd WHERE rk > 1),
        |dnd AS MATERIALIZED (
        |  SELECT x.doc_id, x.text, x.lang, x.source, x.n_tok
        |  FROM dsurv0 x LEFT JOIN dlosers l USING (doc_id)
        |  WHERE l.doc_id IS NULL
        |), dgsig AS (
        |  SELECT doc_id, text, lang, source, n_tok,
        |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)) AS BIGINT) AS gntok,
        |    CAST(list_aggregate(list_transform(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0), t -> length(t)), 'sum') AS BIGINT) AS gchars,
        |    CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0), t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS galpha,
        |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS gsymbols,
        |    CAST(len(list_intersect(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), t -> length(t) > 0)), $gopherStopSql)) AS BIGINT) AS gstops
        |  FROM dnd
        |), dquality AS (
        |  SELECT doc_id, text, lang, source, n_tok FROM dgsig
        |  WHERE gntok >= 5 AND gntok <= 100000
        |    AND gntok > 0 AND CAST(gchars AS DOUBLE) / gntok >= 3.0
        |    AND CAST(gchars AS DOUBLE) / gntok <= 10.0
        |    AND CAST(galpha AS DOUBLE) >= 0.8 * CAST(gntok AS DOUBLE)
        |    AND CAST(gsymbols AS DOUBLE) <= 0.1 * CAST(gntok AS DOUBLE)
        |    AND gstops >= 1
        |), drawg AS MATERIALIZED (
        |  SELECT doc_id, list_distinct($trigramsFromTkSql) AS grams
        |  FROM (SELECT doc_id, $toksSql AS tk FROM dsrc)
        |), dbench AS (
        |  SELECT DISTINCT gm FROM (
        |    SELECT unnest(grams) AS gm FROM drawg WHERE doc_id % 20 = 0)
        |), allbench AS MATERIALIZED (
        |  SELECT gm FROM fbench UNION SELECT gm FROM dbench
        |), dqgr AS (
        |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok, g.grams
        |  FROM dquality q JOIN drawg g USING (doc_id)
        |), dmtc AS (
        |  SELECT doc_id, count(*) AS n_matched FROM (
        |    SELECT doc_id, unnest(grams) AS gm FROM dqgr
        |  ) JOIN allbench USING (gm) GROUP BY doc_id
        |), ddec AS MATERIALIZED (
        |  SELECT q.doc_id, q.text, q.lang, q.source, q.n_tok
        |  FROM dqgr q LEFT JOIN dmtc USING (doc_id)
        |  WHERE q.doc_id % 20 <> 0
        |    AND (CASE WHEN len(q.grams) = 0 THEN 0.0
        |         ELSE CAST(coalesce(n_matched, 0) AS DOUBLE) / len(q.grams) END) < 0.2
        |), fbounds AS (
        |  SELECT lang, max(score) AS hi FROM fcur2 WHERE decile < 10
        |  GROUP BY lang, decile
        |), dscore AS (
        |  SELECT doc_id, lang, source, n_tok,
        |    0.4 * least(1.0, CAST(len($toksSql) AS DOUBLE) / 50.0)
        |    + 0.3 * (1.0 - (CASE WHEN len($toksSql) = 0 THEN 1.0
        |        ELSE 1.0 - CAST(len($contentToksSql) AS DOUBLE) / len($toksSql) END))
        |    + 0.3 * least(1.0, (CASE WHEN len($toksSql) = 0 THEN 0.0
        |        ELSE CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len($toksSql) END) / 8.0) AS score
        |  FROM ddec
        |), dcnt AS (
        |  SELECT s.doc_id, s.source, s.n_tok, 1 + count(b.hi) AS decile
        |  FROM dscore s LEFT JOIN fbounds b ON b.lang = s.lang AND b.hi < s.score
        |  GROUP BY s.doc_id, s.source, s.n_tok
        |), dcur AS MATERIALIZED (
        |  SELECT doc_id, source, n_tok FROM dcnt
        |  WHERE (${ph("CAST(doc_id AS VARCHAR)")}) % 10 < decile
        |), dmix AS (
        |  SELECT doc_id, source, n_tok, u.copy AS copy FROM (
        |    SELECT c.doc_id, c.source, c.n_tok, coalesce(ue.epochs, 1.0) AS epochs
        |    FROM dcur c LEFT JOIN fue ue USING (source)
        |  ) x, UNNEST(range(1, GREATEST(CAST(ceil(x.epochs) AS BIGINT), 1) + 1)) AS u(copy)
        |  WHERE u.copy <= floor(x.epochs)
        |     OR CAST(($phCopy) % 1000003 AS DOUBLE) / 1000003.0 < x.epochs - floor(x.epochs)
        |), dshrd AS (
        |  SELECT doc_id, n_tok,
        |    ((((doc_id * 37 + copy) % 2147483648) * 2654435761) % 4294967296) % 16 AS shard
        |  FROM dmix
        |)
        |SELECT * FROM (
        |  SELECT CAST(0 AS INTEGER) AS stage_idx, 'raw' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM db2
        |  UNION ALL SELECT CAST(1 AS INTEGER), 'exact', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dexact
        |  UNION ALL SELECT CAST(2 AS INTEGER), 'neardup', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dnd
        |  UNION ALL SELECT CAST(3 AS INTEGER), 'quality', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dquality
        |  UNION ALL SELECT CAST(4 AS INTEGER), 'decontam', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM ddec
        |  UNION ALL SELECT CAST(5 AS INTEGER), 'curriculum', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dcur
        |  UNION ALL SELECT CAST(6 AS INTEGER), 'mixture', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM dmix
        |  UNION ALL SELECT CAST(7 AS INTEGER), 'shards', CAST(count(*) AS BIGINT),
        |    CAST(coalesce(sum(n_tok), 0) AS BIGINT),
        |    CAST(coalesce(sum(doc_id * (shard + 1)), 0) AS BIGINT) FROM dshrd
        |) ORDER BY stage_idx""".stripMargin
    },

    // q112 is q23's contract through the pre-collapse path: same output
    // by construction, so the oracle replays q23's all-pairs SQL — the
    // oracle gate IS the equivalence proof at data scale.
    "q112_collapsed_pairs" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |ORDER BY sim DESC, id_a, id_b LIMIT 20""".stripMargin,
  )

  /** Brute-force top-5 cosine neighbors for queries vec_id < 10 — the
    * oracle for both q18 (exact kNN) and q56 (IVF, exhaustively probed). */
  private val knnOracleSql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), p AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_dot_product(q.v, c.v)
      |      / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 6) AS sim
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, sim,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM p
      |)
      |SELECT query_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
      |ORDER BY query_id, rnk""".stripMargin
}
