package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, TextFunctions => TF}

/** Deduplication operators for large text corpora.
  *
  * The reference only has exact dedup + an O(n²) fuzzy pass guarded at 10k
  * rows (src/lakehouse/quality/metrics/integrity.py:379-616). At 100 TB
  * the only viable shapes are hash-groupBy (exact) and locality-sensitive
  * bucketing (near-dup): shingle → MinHash signature → band → bucket
  * equi-join. Every step here is a plain shuffle-on-key operation, so the
  * candidate-pair blowup is bounded per bucket, never global.
  *
  * Hash choice is pluggable: [[Hashes.polyHash]]-based variants are
  * cross-engine verifiable (the DuckDB oracle computes the identical
  * pipeline); production should prefer xxhash64 via `hashFn`.
  */
object Dedup {

  /** X99 aggressive normalization for near-exact dedup keys (the
    * RefinedWeb/Falcon-style variant of plain whitespace folding):
    * lowercase, fold every non-alphanumeric run to one space, trim. This
    * catches reformatting twins — punctuation/casing/markup jitter around
    * identical content — that byte-exact hashing misses, at map-only
    * cost. Restricted to `\p{L}\p{N}` classes, which Java regex and RE2
    * (the DuckDB oracle engine) agree on. */
  def normalizeAggressive(text: Column): Column =
    trim(regexp_replace(lower(text), "[^\\p{L}\\p{N}]+", " "))

  /** X99 per-source normalized-dedup audit: how much of each source
    * collapses under [[normalizeAggressive]] keys — the number the
    * mixing planner reads before deciding whether a source needs the
    * full near-dup pipeline. One map-only normalization + hash, one
    * (source, key)-grouped count, one source-grouped rollup — the first
    * shuffle carries distinct keys (map-side collapsed), the second is
    * source-sized. Keys are xxhash64 of the normalized text, so the
    * wide text column never shuffles.
    *
    * Oracle-parity assumptions (q98 groups on the normalized STRING in
    * DuckDB while this groups on its 64-bit hash): (a) xxhash64
    * collisions — P(any collision) ≈ n²/2^65, ~3e-9 at n=1e6 distinct
    * keys, and a collision only UNDERCOUNTS n_distinct by 1; accepted so
    * the wide text never shuffles. (b) case folding — Spark's `lower`
    * (UTF8String, locale-independent simple mapping) and DuckDB's
    * `lower` (utf8proc, same simple mapping) agree on 1:1 mappings;
    * multi-char expansions (ẞ→ss-style special folds) are where full
    * casefold engines diverge, and NEITHER engine applies them in
    * `lower`, so the keys match. The `\p{L}\p{N}` character classes are
    * the separately-documented Java/RE2 agreement. */
  def normalizedDupAudit(df: DataFrame, textCol: Column,
      sourceCol: Column): DataFrame =
    df.select(sourceCol.as("source"), xxhash64(normalizeAggressive(textCol)).as("_k"))
      .groupBy("source", "_k").agg(count(lit(1)).as("_n"))
      .groupBy("source")
      .agg(
        sum(col("_n")).cast("long").as("n_docs"),
        count(lit(1)).cast("long").as("n_distinct"),
        (sum(col("_n")) - count(lit(1))).cast("long").as("dup_docs"),
        round(lit(100.0) * (sum(col("_n")) - count(lit(1))) / sum(col("_n")), 4)
          .as("dup_pct"))
      .orderBy("source")

  /** Exact duplicate groups by normalized text (integrity.py:379-549).
    * Returns (key columns…, n, plus whatever `agg` projections). */
  def exactDuplicateGroups(df: DataFrame, textCol: Column, extraKeys: Seq[Column] = Nil): DataFrame = {
    val keyed = df.withColumn("norm_text", TF.normalizeWs(textCol))
    keyed.groupBy((col("norm_text") +: extraKeys): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  /** Universal-hash family for minhash slots: h_i(x) = (a_i·x + b_i) mod p.
    * One expensive base hash per shingle, k cheap affine rehashes — the
    * standard trick that keeps signature cost O(shingles + k) instead of
    * O(shingles · k) char folds. Constants are fixed so the SQL oracle
    * can mirror them. */
  def affineA(i: Int): Long = ((2L * i + 1) * 1000003L) % Hashes.PolyMod
  def affineB(i: Int): Long = (999331L * i) % Hashes.PolyMod

  /** Signature from a PRE-MATERIALIZED base-hash array column (keep `hs`
    * a real column: Catalyst's CollapseProject would otherwise inline an
    * expensive expression into each of the k slots). */
  def signatureFromHashes(hs: Column, k: Int): Column =
    array((0 until k).map { i =>
      array_min(transform(hs, h => (h * affineA(i) + affineB(i)) % Hashes.PolyMod))
    }: _*)

  /** LSH banding: (doc_id, band_id, band_key) rows, one per band, where
    * band_key joins the r signature slots of that band. Docs sharing any
    * band_key are candidate pairs.
    *
    * ONE posexplode projection, not a `bands`-way union of per-band
    * projections (r16): the union form re-scanned its input once per
    * band and carried `bands` separate codegen stages — pure fixed cost,
    * since the emitted row multiset is identical (band_id = array
    * position). Matters twice at scale: banding feeds the candidate
    * shuffle on every minhash query, and a cold executor pays the
    * codegen of every stage shape once per JVM. */
  def minhashBands(df: DataFrame, idCol: String, sigCol: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(array((0 until bands).map { b =>
        concat_ws(",", (0 until rowsPerBand).map(r =>
          get(col(sigCol), lit(b * rowsPerBand + r))): _*)
      }: _*)))
      .select(col(idCol), col("pos").as("band_id"), col("col").as("band_key"))

  /** Default per-bucket cap for banded LSH candidate generation: a
    * (band, signature) bucket past this many member docs is SKIPPED —
    * 32 docs is ≤ 496 pairs per bucket, the bounded quadratic unit a
    * reducer pays, while a crawl-dump boilerplate bucket (measured
    * 2,875 docs at 10× replica density, 11,442 at 40× — 4M/65M pairs
    * from ONE key) is precisely the degenerate mass a production dedup
    * run flags instead of scoring. [[minhashBucketAudit]] puts the
    * skipped mass on the record; the cap is mirrored verbatim in the
    * DuckDB oracles, so capped pipelines stay hash-checked at every sf. */
  val DefaultMaxBucket = 32

  /** Candidate pairs (idA < idB) from shared LSH buckets.
    * The groupBy/self-join is on (band_id, band_key) — the shuffle key —
    * so skew is bounded by bucket size, and `distinct` collapses pairs
    * found in multiple bands. Buckets past `maxBucket` members are
    * dropped BEFORE the self-join (skip-and-flag; see
    * [[minhashBucketAudit]] for the flagged accounting) — the standard
    * posting-list prune that keeps one hot boilerplate signature from
    * quadratically dominating the stage. Int.MaxValue = uncapped. */
  def candidatePairs(bandsDf: DataFrame, idCol: String,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val src =
      if (maxBucket == Int.MaxValue) bandsDf
      else {
        // bucket sizes are a map-side-combined count on the SAME key as
        // the join below, and the probe is a shuffled left-semi on that
        // key. The hint goes on the BUILD (right) side: a left-side
        // shuffle_hash is unsupported for semi joins and Spark silently
        // falls back to broadcasting the under-cap bucket list — fine at
        // toy scale, but that list is corpus-sized (≈ bands × docs keys)
        // on a real corpus and must never ride a broadcast.
        val ok = bandsDf.groupBy("band_id", "band_key")
          .agg(count(lit(1)).as("_bn")).filter(col("_bn") <= maxBucket)
          .select("band_id", "band_key")
        bandsDf.join(ok.hint("shuffle_hash"), Seq("band_id", "band_key"), "left_semi")
      }
    val a = src.select(col("band_id"), col("band_key"), col(idCol).as("id_a"))
    val b = src.select(col("band_id"), col("band_key"), col(idCol).as("id_b"))
    // the banding key IS the parallelism: a broadcast self-join would
    // serialize candidate generation into however few partitions the
    // SCAN happened to produce (one, for a single <128 MB file — measured
    // as a 1-thread 10-minute stall at sf1), and at cluster scale would
    // defeat the skew-spreading the band key exists for. Force the
    // shuffle so each (band, signature) bucket lands on its own reducer.
    a.hint("shuffle_hash").join(b, Seq("band_id", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Exact Jaccard over two distinct-element array columns.
    * |∩| / (|A| + |B| − |∩|): single double division, cross-engine exact. */
  /** Blocked edit-distance pairs — typo-level near-dup for SHORT strings
    * (titles, product names, speaker labels) where token shingles are too
    * coarse. All-pairs Levenshtein is O(n²·len²); the block key (caller-
    * chosen: first token, length bucket, phonetic code) bounds each
    * comparison group, so the plan is an equi-join on the block plus a
    * map-side `levenshtein` filter — same scale story as every banded
    * join here. Pairs within a block are attributed exactly once
    * (idA < idB). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: Column,
      blockExpr: Column, maxDist: Int): DataFrame = {
    val base = df.select(col(idCol).as("_id"), textCol.as("_t"), blockExpr.as("_blk"))
    val a = base.select(col("_blk"), col("_id").as("id_a"), col("_t").as("t_a"))
    val b = base.select(col("_blk"), col("_id").as("id_b"), col("_t").as("t_b"))
    // see [[candidatePairs]]: block-key shuffle, never a broadcast
    a.hint("shuffle_hash").join(b, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
      .filter(col("dist") <= maxDist)
      .select("id_a", "id_b", "dist")
  }

  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - size(array_intersect(a, b))).cast("double")
  }

  /** Full MinHash-LSH near-dup pipeline: distinct word shingles →
    * signature → bands → candidate pairs → exact-Jaccard verification.
    * Returns (id_a, id_b, jac) for candidates with jac ≥ threshold.
    *
    * Two pair-density mitigations for degenerate-duplicate corpora (a
    * crawl dump where one boilerplate page has 10⁵ near-copies):
    *
    *   - `maxBucket`: skip-and-flag LSH buckets past this many docs
    *     (see [[candidatePairs]]; audit via [[minhashBucketAudit]]).
    *     Bounds per-bucket candidate work at C(maxBucket, 2) no matter
    *     how degenerate the corpus; skipped mass is deterministic and
    *     mirrored in the SQL oracles.
    *   - `preCollapse`: collapse docs with IDENTICAL distinct-shingle
    *     sets to one representative BEFORE signatures/banding, run the
    *     pipeline on representatives only, then re-expand membership —
    *     cross-group pairs inherit the representatives' exact Jaccard
    *     (identical sets ⇒ identical signatures, bucket membership, and
    *     intersections) and within-group pairs are emitted at jac = 1.0
    *     directly, so with `maxBucket` off the output is EXACTLY the
    *     uncollapsed pipeline's (spec-asserted + oracle-replayed). An
    *     exact-duplicate family of g docs then costs ONE pipeline row
    *     plus its g(g−1)/2 output rows, instead of inflating every
    *     bucket it lands in. With `maxBucket` on, the cap counts
    *     distinct shingle-sets per bucket (strictly better: exact
    *     twins can no longer push a bucket over the cap). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: Column,
      shingleWords: Int, k: Int, bands: Int, threshold: Double,
      maxBucket: Int = Int.MaxValue, preCollapse: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val shingled = shingleSets(df, idCol, textCol, shingleWords, k)
    if (!preCollapse)
      verifiedPairs(shingled, idCol, k, bands, threshold, maxBucket)
    else {
      minhashNearDupsPreCollapsed(shingled, idCol, k, bands, threshold, maxBucket)
    }
  }

  /** [[minhashNearDups]] (preCollapse = false) that ALSO returns the
    * pipeline's materialized per-doc index frame (idCol, sig, hsh, sz) —
    * [[indexColumns]] over every shingle-bearing input doc, already
    * localCheckpointed for the banding/verify re-scans. A caller that
    * needs a [[nearDupIndex]] of the SURVIVORS afterwards (the curate
    * pipeline's frozen-parameter derivation) filters this frame by id
    * instead of re-running the full shingle+minhash text pass:
    * [[indexColumns]] is deterministic per row, so
    * `sigs ⋉ survivors ≡ nearDupIndex(survivors)` exactly. */
  private[graft] def minhashNearDupsWithIndex(df: DataFrame, idCol: String,
      textCol: Column, shingleWords: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, "k must divide into equal bands")
    val shingled = shingleSets(df, idCol, textCol, shingleWords, k)
    val r = k / bands
    val sig = indexColumns(shingled, idCol, k).localCheckpoint(false)
    val cand = candidatePairs(minhashBands(sig, idCol, "sig", bands, r), idCol, maxBucket)
    (verifyPairs(cand, sig, idCol, threshold), sig)
  }

  private def minhashNearDupsPreCollapsed(shingled: DataFrame, idCol: String,
      k: Int, bands: Int, threshold: Double, maxBucket: Int): DataFrame = {
    {
      // group by the SORTED shingle array itself (not a 64-bit digest:
      // a digest collision would silently merge two different docs into
      // a false jac=1.0 family) — the groupBy shuffles the shingle
      // arrays once, the same mass the signature checkpoint holds.
      // localCheckpoint: the grouped frame feeds the rep pipeline AND
      // both expansion joins.
      val grouped = shingled
        .groupBy(sort_array(col("sh")).as("sh"))
        .agg(min(col(idCol)).as("_rep"), collect_list(col(idCol)).as("_ms"))
        .localCheckpoint(false)
      val reps = grouped.select(col("_rep").as(idCol), col("sh"))
      val repPairs = verifiedPairs(reps, idCol, k, bands, threshold, maxBucket)
      val mem = grouped.select(col("_rep"), explode(col("_ms")).as("_m"))
      // cross-group pairs: every member of A × every member of B at the
      // representatives' verified jac; ids re-ordered (members of a
      // later group can carry smaller ids than an earlier group's)
      val expanded = repPairs
        .join(mem.select(col("_rep").as("id_a"), col("_m").as("_ma")), "id_a")
        .join(mem.select(col("_rep").as("id_b"), col("_m").as("_mb")), "id_b")
        .select(least(col("_ma"), col("_mb")).as("id_a"),
          greatest(col("_ma"), col("_mb")).as("id_b"), col("jac"))
      // within-group pairs: identical shingle sets ⇒ jac exactly 1.0
      val wa = mem.select(col("_rep"), col("_m").as("id_a"))
      val wb = mem.select(col("_rep"), col("_m").as("id_b"))
      val within = wa.hint("shuffle_hash").join(wb, "_rep")
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jac"))
        .filter(lit(1.0) >= threshold)
      expanded.unionByName(within)
    }
  }

  /** Tokenize → distinct word `shingleWords`-grams, dropping shingle-less
    * docs, with the minhash/text kernels (incl. `graft_minhash_$k`)
    * registered as a side effect. Map-only. */
  private def shingleSets(df: DataFrame, idCol: String, textCol: Column,
      shingleWords: Int, k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.expressions.HashFunctions.register(spark)
    graft.expressions.TextExprs.register(spark)
    graft.expressions.HashFunctions.registerMinhash(spark, s"graft_minhash_$k",
      (0 until k).map(affineA).toArray, (0 until k).map(affineB).toArray)
    // single-pass shingle kernel (the transform+slice+concat_ws chain
    // interprets a lambda per shingle)
    df.select(col(idCol), TF.tokens(textCol).as("tk"))
      .select(col(idCol),
        (if (shingleWords <= 1) array_distinct(col("tk"))
         else graft.expressions.TextExprs.distinct_word_ngrams(col("tk"), shingleWords)).as("sh"))
      .filter(size(col("sh")) > 0) // shingle-less docs can't be near-dups
  }

  /** The per-doc dedup state derived from an (id, sh) frame: minhash
    * signature (candidate generation), sorted 64-bit shingle hashes +
    * set size (exact-Jaccard verification). Map-only; requires
    * `graft_minhash_$k` registered (see [[shingleSets]]). */
  private def indexColumns(shingled: DataFrame, idCol: String, k: Int): DataFrame =
    shingled
      .withColumn("hs", graft.expressions.HashFunctions.poly_hash_array(col("sh")))
      .withColumn("sig", call_function(s"graft_minhash_$k", col("hs")))
      // sorted 64-bit shingle hashes: exact-Jaccard verification becomes a
      // codegen'd two-pointer merge instead of string-array intersection.
      .withColumn("hsh", graft.expressions.TextExprs.xx_sorted_hash(col("sh")))
      .withColumn("sz", size(col("sh")))
      .select(col(idCol), col("sig"), col("hsh"), col("sz"))

  /** Join candidate pairs back to their index rows and keep those at
    * exact Jaccard ≥ threshold. `idx` must carry (idCol, hsh, sz). */
  private def verifyPairs(cand: DataFrame, idx: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    cand
      .join(idx.select(col(idCol).as("id_a"), col("hsh").as("ha"), col("sz").as("sz_a")), "id_a")
      .join(idx.select(col(idCol).as("id_b"), col("hsh").as("hb"), col("sz").as("sz_b")), "id_b")
      // exact size bound: J = I/(sa+sb−I) with I ≤ min(sa,sb) implies
      // J ≤ min/max, so a pair with >1/t length disparity can never
      // reach the threshold — drop it BEFORE the two-pointer merge.
      // Only removes pairs the jac filter below would remove anyway.
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .withColumn("inter",
        graft.expressions.HashFunctions.sorted_intersect_count(col("ha"), col("hb")))
      .withColumn("jac",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")

  /** Signature → bands → (capped) candidates → exact-Jaccard verify over
    * an (id, sh) frame with distinct, non-empty shingle arrays. Requires
    * `graft_minhash_$k` registered (see [[minhashNearDups]]). */
  private def verifiedPairs(shingled: DataFrame, idCol: String, k: Int,
      bands: Int, threshold: Double, maxBucket: Int): DataFrame = {
    val r = k / bands
    // localCheckpoint (not cache) because the banding union and the two
    // verification joins re-scan this subtree ~10x: same reuse, but the
    // blocks are freed by the ContextCleaner when the plan is dropped,
    // instead of pinning executor storage for the session's lifetime.
    // (Lineage is truncated: on preemptible clusters, prefer reliable
    // checkpoint() — losing an executor mid-query aborts instead of
    // recomputing.)
    val sig = indexColumns(shingled, idCol, k).localCheckpoint(false)
    val cand = candidatePairs(minhashBands(sig, idCol, "sig", bands, r), idCol, maxBucket)
    verifyPairs(cand, sig, idCol, threshold)
  }

  /** X108 near-dup index build: the PERSISTABLE per-doc state an
    * incremental dedup run needs — the k-slot minhash signature (drives
    * candidate generation) plus the sorted 64-bit shingle hashes and set
    * size (drive exact-Jaccard verification). ~8 bytes per distinct
    * shingle plus 8k per doc: orders of magnitude under re-shipping
    * text, and the ONLY state a later [[incrementalNearDups]] batch
    * touches. Map-only (no shuffle) — write it with the S7 parquet sink
    * partitioned however the corpus is partitioned.
    *
    * Same hash contract as [[minhashNearDups]] (collision/casing note at
    * the top of this file): identical `shingleWords`/`k` must be used at
    * index build and incremental query time. */
  def nearDupIndex(df: DataFrame, idCol: String, textCol: Column,
      shingleWords: Int, k: Int): DataFrame =
    indexColumns(shingleSets(df, idCol, textCol, shingleWords, k), idCol, k)

  /** X108 incremental near-dup: verify ONLY the pairs a new `delta`
    * batch introduces against a persisted [[nearDupIndex]] — the
    * production shape at 100 TB, where re-running the full-corpus
    * pipeline per arriving batch is a non-starter. Emits exactly the
    * full-corpus run's pairs that touch at least one delta doc
    * (spec-asserted set equality): banding, the bucket cap, and
    * verification all run over the COMBINED bucket population, so a
    * bucket that only goes degenerate once the delta lands is skipped
    * exactly as the full run would skip it.
    *
    * Cost shape: delta-side work is map-only (shingle → signature); the
    * corpus-sized index contributes one band-keyed shuffle (bucket
    * count + probe) and two id-keyed verification joins against
    * candidates — never an index×index pair. Candidates are
    * delta-bands ⨝ all-bands on the banding key (base×base can never
    * form), normalized via least/greatest so a delta×delta pair found
    * from both sides collapses in the `distinct`. `delta` ids must be
    * disjoint from the index's (enforce upstream with the J5-style
    * anti-join); the caller appends `nearDupIndex(delta)` to the stored
    * index afterwards. */
  def incrementalNearDups(index: DataFrame, delta: DataFrame, idCol: String,
      textCol: Column, shingleWords: Int, k: Int, bands: Int,
      threshold: Double, maxBucket: Int = Int.MaxValue): DataFrame =
    incrementalNearDupsFromIndex(index,
      // checkpoint: the delta index is re-scanned (banding + two verify
      // joins) — see the note inside the FromIndex core
      nearDupIndex(delta, idCol, textCol, shingleWords, k).localCheckpoint(false),
      idCol, k, bands, threshold, maxBucket)

  /** [[incrementalNearDups]] with the delta's [[nearDupIndex]] already
    * computed (and checkpointed) by the caller — the curate pipeline
    * derives it once and reuses it to bank the kept delta's signatures,
    * instead of re-running the delta shingle+minhash pass. */
  private[graft] def incrementalNearDupsFromIndex(index: DataFrame,
      deltaIdx: DataFrame, idCol: String, k: Int, bands: Int,
      threshold: Double, maxBucket: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val r = k / bands
    // both frames are re-scanned (banding + two verify joins): the caller
    // checkpoints the delta pipeline once, and the union is checkpointed
    // here so a computed `index` argument (as in the q105 query) is not
    // re-derived per scan
    val all = index.unionByName(deltaIdx).localCheckpoint(false)
    val allBands = minhashBands(all, idCol, "sig", bands, r)
    val deltaBands = minhashBands(deltaIdx, idCol, "sig", bands, r)
    val (aSide, bSide) =
      if (maxBucket == Int.MaxValue) (deltaBands, allBands)
      else {
        // cap counts the COMBINED bucket (base + delta members): the
        // same map-side-combined count + shuffled left-semi probe as the
        // batch path ([[candidatePairs]] on the build-side hint), on the
        // same key the candidate join shuffles on
        val ok = allBands.groupBy("band_id", "band_key")
          .agg(count(lit(1)).as("_bn")).filter(col("_bn") <= maxBucket)
          .select("band_id", "band_key")
        (deltaBands.join(ok.hint("shuffle_hash"), Seq("band_id", "band_key"), "left_semi"),
          allBands.join(ok.hint("shuffle_hash"), Seq("band_id", "band_key"), "left_semi"))
      }
    // see [[candidatePairs]] on why the join is forced to shuffle on the
    // banding key rather than broadcast
    val cand = aSide.select(col("band_id"), col("band_key"), col(idCol).as("_na"))
      .hint("shuffle_hash")
      .join(bSide.select(col("band_id"), col("band_key"), col(idCol).as("_ob")),
        Seq("band_id", "band_key"))
      .filter(col("_na") =!= col("_ob"))
      .select(least(col("_na"), col("_ob")).as("id_a"),
        greatest(col("_na"), col("_ob")).as("id_b"))
      .distinct()
    verifyPairs(cand, all, idCol, threshold)
  }

  /** X104 LSH bucket audit — the flagged accounting behind
    * [[candidatePairs]]'s skip-and-flag cap: per band, how many
    * (signature) buckets exist, how many exceed `maxBucket` (and would
    * be skipped), how many doc-rows sit inside those, the largest
    * bucket, and the candidate-pair mass on each side of the cap. Read
    * BEFORE trusting a capped dedup run: `cand_pairs_skipped` is
    * exactly the pair mass the capped pipeline refuses to score.
    *
    * Scale shape: one band-keyed map-side-combined count (the same
    * shuffle the candidate join uses), then a `bands`-row rollup —
    * nothing quadratic anywhere, safe to run uncapped on any corpus. */
  def minhashBucketAudit(df: DataFrame, idCol: String, textCol: Column,
      shingleWords: Int, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    require(k % bands == 0, "k must divide into equal bands")
    val spark = df.sparkSession
    graft.expressions.HashFunctions.register(spark)
    graft.expressions.TextExprs.register(spark)
    graft.expressions.HashFunctions.registerMinhash(spark, s"graft_minhash_$k",
      (0 until k).map(affineA).toArray, (0 until k).map(affineB).toArray)
    val shingled = df
      .select(col(idCol), TF.tokens(textCol).as("tk"))
      .select(col(idCol),
        (if (shingleWords <= 1) array_distinct(col("tk"))
         else graft.expressions.TextExprs.distinct_word_ngrams(col("tk"), shingleWords)).as("sh"))
      .filter(size(col("sh")) > 0)
    val sig = shingled
      .withColumn("hs", graft.expressions.HashFunctions.poly_hash_array(col("sh")))
      .withColumn("sig", call_function(s"graft_minhash_$k", col("hs")))
    val sizes = minhashBands(sig, idCol, "sig", bands, k / bands)
      .groupBy("band_id", "band_key").agg(count(lit(1)).as("_n"))
    // integer DIV keeps the pair mass exact in int64 (n(n−1) is even) —
    // a double `/ 2` would round past 2^53 on planetary-scale buckets
    val pairMass = expr("_n * (_n - 1) DIV 2")
    sizes.groupBy("band_id")
      .agg(
        count(lit(1)).cast("long").as("n_buckets"),
        sum(when(col("_n") > maxBucket, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("_n") > maxBucket, col("_n")).otherwise(0L)).as("rows_in_flagged"),
        max(col("_n")).cast("long").as("max_bucket"),
        sum(when(col("_n") <= maxBucket, pairMass).otherwise(0L)).as("cand_pairs_kept"),
        sum(when(col("_n") > maxBucket, pairMass).otherwise(0L)).as("cand_pairs_skipped"))
      .orderBy("band_id")
  }

  /** Exact global top-k most-similar pairs by n-gram Jaccard within a
    * blocking key — the blocked-all-pairs shape of
    * [[graft.operators.Similarity.topPairsExactBlocked]] applied to set
    * overlap. Input must carry a sorted-long-hash encoding of each doc's
    * distinct shingle set (see [[graft.expressions.TextExprs.xx_sorted_hash]]).
    * Per block pair a tight two-pointer kernel scores its rectangle and
    * keeps a bounded heap, so the n²-row join row-copy never happens;
    * jac = |∩| / (|A|+|B|−|∩|) is one double division of exact ints —
    * bit-identical to the SQL formulation, ties and all. */
  def jaccardTopPairsBlocked(df: DataFrame, keyCol: String, idCol: String,
      sortedHashCol: String, k: Int, nBlocks: Int = 8,
      maxRows: Long = Guards.DefaultExactPairRows): DataFrame = {
    Guards.requireAtMost(df, maxRows, "jaccardTopPairsBlocked",
      "on a duplicate-dense corpus collapse exact twins first via " +
        "jaccardTopPairsCollapsed (preserves the exact contract); otherwise " +
        "switch to minhashNearDups (MinHash-LSH) for the approximate regime")
    jaccardBlockedCore(df, keyCol, idCol, sortedHashCol, k, nBlocks)
  }

  /** Shared core of the blocked exact Jaccard top-k (guard-free; see
    * [[jaccardTopPairsBlocked]] / [[jaccardTopPairsCollapsed]]). */
  private def jaccardBlockedCore(df: DataFrame, keyCol: String, idCol: String,
      sortedHashCol: String, k: Int, nBlocks: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val packed = df
      // keyCol is carried through the typed kernel as a string; cast here
      // so non-string blocking keys (int partition ids) work too
      .groupBy(col(keyCol).cast("string").as("_key"),
        pmod(col(idCol), lit(nBlocks)).cast("int").as("bid"))
      .agg(collect_list(struct(col(idCol).cast("long"), col(sortedHashCol))).as("items"))
    val a = packed.select(col("_key"), col("bid").as("bid_a"), col("items").as("ia"))
    val b = packed.select(col("_key").as("_kb"), col("bid").as("bid_b"), col("items").as("ib"))
    val blockPairs = a.join(b, col("_key") === col("_kb") && col("bid_a") <= col("bid_b"))
      .select(col("_key"), col("bid_a"), col("ia"), col("bid_b"), col("ib"))
      .repartition(col("_key"), col("bid_a"), col("bid_b"))
    val top = blockPairs
      .as[(String, Int, Array[(Long, Array[Long])], Int, Array[(Long, Array[Long])])]
      .mapPartitions { it =>
        it.flatMap { case (key, ba, ia, bb, ib) =>
          JaccardKernels.topPairs(ia, if (ba == bb) null else ib, k).map {
            case (idA, idB, jac) => (key, idA, idB, jac)
          }
        }
      }
      .toDF(keyCol, "id_a", "id_b", "jac")
    top.orderBy(col("jac").desc, col("id_a"), col("id_b")).limit(k)
  }

  /** [[jaccardTopPairsBlocked]] with exact-duplicate pre-collapse — the
    * set-overlap analog of `Similarity.topPairsExactCollapsed`, for
    * duplicate-dense corpora where the exact top-k contract's true pair
    * mass is quadratic in the twin count (every pair of docs with the
    * SAME distinct-shingle encoding scores jac = 1.0 and cannot be
    * skipped — but need not be paid O(set) intersection work each).
    *
    * Docs are grouped by (blocking key, sorted-hash array VALUE) — the
    * exact encoding the kernel intersects, so the collapse is
    * equivalence-preserving by construction: two docs in one group are
    * precisely two docs the uncollapsed kernel would score 1.0 (the
    * hash-collision contract is the kernel's own, documented at the top
    * of this file). The blocked kernel runs over one representative per
    * distinct encoding; the top-k rep pairs re-expand through ≤ k-row
    * broadcast joins; within-group pairs (jac exactly 1.0 — sz/sz) come
    * from a bounded first-min(k, C(m,2))-in-id-order generator, all a
    * global top-k can ever admit. Two shingle-less docs pair nowhere in
    * either path (0/0 undefined); a shingle-less group still crosses
    * with real groups at jac 0.0, exactly like the uncollapsed kernel.
    *
    * EXACTNESS: same rep-minima argument as the vector analog —
    * representatives are group minima, so a rep pair's best expanded
    * pair is itself; any cross-group pair of the true top-k has ≥ its
    * rep pair inside the kernel's kept top-k (spec-asserted equality
    * with the uncollapsed path, and q113's oracle replays q22's SQL).
    * The size guard moves to REPRESENTATIVES: the deduplicated corpus
    * is what must fit the exact contract. */
  def jaccardTopPairsCollapsed(df: DataFrame, keyCol: String, idCol: String,
      sortedHashCol: String, k: Int, nBlocks: Int = 8,
      maxReps: Long = Guards.DefaultExactPairRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // localCheckpoint: the grouped frame feeds the rep kernel, both
    // expansion joins, and the within-group generator
    val grouped = df
      .groupBy(col(keyCol).cast("string").as("_key"), col(sortedHashCol).as("_h"))
      .agg(min(col(idCol).cast("long")).as("_rep"),
        sort_array(collect_list(col(idCol).cast("long"))).as("_ms"),
        count(lit(1)).as("_m"))
      .localCheckpoint(false)
    val reps = grouped.select(col("_key").as(keyCol), col("_rep").as(idCol),
      col("_h").as(sortedHashCol))
    Guards.requireAtMost(reps, maxReps, "jaccardTopPairsCollapsed",
      "switch to minhashNearDups (MinHash-LSH, preCollapse = true) for the approximate regime")
    val repTop = jaccardBlockedCore(reps, keyCol, idCol, sortedHashCol, k, nBlocks)
    val memA = grouped.select(col("_rep").as("id_a"), col("_ms").as("_ma"))
    val memB = grouped.select(col("_rep").as("id_b"), col("_ms").as("_mb"))
    val expanded = broadcast(broadcast(repTop).join(memA, "id_a"))
      .join(memB, "id_b")
      .select(col(keyCol), explode(col("_ma")).as("_a"), col("_mb"), col("jac"))
      .select(col(keyCol), col("_a"), explode(col("_mb")).as("_b"), col("jac"))
      .select(col(keyCol), least(col("_a"), col("_b")).as("id_a"),
        greatest(col("_a"), col("_b")).as("id_b"), col("jac"))
    val within = grouped.filter(col("_m") >= 2 && size(col("_h")) > 0)
      .select(col("_key"), col("_ms")).as[(String, Array[Long])]
      .flatMap { case (key, ms) =>
        JaccardKernels.withinPairs(ms, k).map { case (a, b) => (key, a, b, 1.0) }
      }
      .toDF(keyCol, "id_a", "id_b", "jac")
    expanded.unionByName(within)
      .orderBy(col("jac").desc, col("id_a"), col("id_b")).limit(k)
  }

  /** Connected components over near-dup pairs: iterative min-label
    * propagation on the (undirected) pair graph, the step that turns
    * pairwise candidates into dedup clusters ("keep one per component").
    *
    * Each round is two equi-joins + a groupBy on the node id — pure
    * shuffle-on-key, no driver-side graph. Rounds needed = graph
    * diameter; near-dup components from LSH verification are almost
    * always cliques or short chains, so convergence is 1-3 rounds (the
    * loop stops as soon as no label changes). Plans are truncated with
    * localCheckpoint each round so the iteration doesn't accumulate an
    * unbounded lineage. Returns (id, cluster_id), cluster_id = min id of
    * the component; ids not in any pair are absent (their cluster is
    * themselves). */
  def nearDupClusters(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIter: Int = 15,
      driverThreshold: Int = 1000000): DataFrame = {
    // scale-adaptive: near-dup pair sets are usually a sliver of the
    // corpus. Below the threshold a driver-side union-find answers in one
    // collect instead of paying a distributed join round per graph
    // diameter; above it, the label-propagation loop below scales out.
    // The threshold is a PAIR count: 1M pairs ≈ 16 MB collected and a
    // ≤2M-entry LongMap (~50 MB) — a bounded model object, while each
    // distributed round below costs 3 joins + an agg + a checkpoint
    // (~1 s/round of fixed latency even on trivial data).
    // (Driver path only for integral ids; other id types go distributed.)
    val integralIds = Seq(idACol, idBCol).forall { c =>
      pairs.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
    }
    // One materialization of the pair pipeline, shared by the threshold
    // probe and (on the distributed path) both sides of the edge union —
    // without it the caller's candidate-generation + verification
    // pipeline re-executes up to 3x (measured: q54 at 20x data spent
    // ~2.5 pipeline-equivalents here before this checkpoint).
    val src = pairs.localCheckpoint(false)
    if (integralIds) {
      val smallSample = src.select(col(idACol).cast("long"), col(idBCol).cast("long"))
        .limit(driverThreshold + 1).collect()
      if (smallSample.length <= driverThreshold) {
        // LongMap: primitive keys, no boxing — the map may hold 2×pairs entries
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = { // iterative: no stack risk on long chains
          var root = x
          while (parent.getOrElse(root, root) != root) root = parent(root)
          var cur = x
          while (cur != root) { val nxt = parent.getOrElse(cur, cur); parent(cur) = root; cur = nxt }
          root
        }
        smallSample.foreach { r =>
          val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
          // union by min id so the representative IS the cluster id
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val ids = smallSample.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        val spark = src.sparkSession
        import spark.implicits._
        return ids.toSeq.map(id => (id, find(id))).toDF("id", "cluster_id")
      }
    }
    val edges = src.select(col(idACol).as("id"), col(idBCol).as("nbr"))
      .unionByName(src.select(col(idBCol).as("id"), col(idACol).as("nbr")))
      .distinct()
      .localCheckpoint(false)
    var labels = edges.select(col("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("nbr"), col("label").as("nbr_label")), "nbr")
        .groupBy("id").agg(min(col("nbr_label")).as("nbr_min"))
      val hop = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_min"), col("label"))).as("label"))
      // pointer jumping: also take the label OF the label, so label
      // distance doubles per round — convergence in O(log diameter)
      // rounds instead of O(diameter), which is what makes maxIter=15
      // (diameter 2^15) a safe default rather than a silent truncation
      val next = hop.alias("l")
        .join(hop.select(col("id").as("label"), col("label").as("ll")).alias("r"),
          Seq("label"), "left")
        .select(col("id"), least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .localCheckpoint(false)
      val changed = next.join(labels.withColumnRenamed("label", "old"), "id")
        .filter(col("label") =!= col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter rounds (component deeper than " +
          s"2^$maxIter hops?); raise maxIter — returning partial labels would merge clusters wrongly")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Corpus dedup: keep one document per near-dup cluster (the minimum
    * id — deterministic on any cluster layout). Documents absent from
    * `pairs` are their own cluster and always kept. */
  def dedupByCluster(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = nearDupClusters(pairs)
    val losers = clusters.filter(col("id") =!= col("cluster_id")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** X112 quality-priority cluster representative: keep the BEST-scoring
    * document per near-dup cluster instead of [[dedupByCluster]]'s
    * arbitrary min-id (the production rule in public curation pipelines —
    * e.g. keep the longest / highest-quality member of a duplicate
    * family rather than whichever crawled first). Ties break to the
    * minimum id so the kept set is deterministic on any cluster layout.
    * Documents absent from `pairs` are their own cluster and always kept.
    *
    * Scale shape: the cluster table is the verified-pair sliver, never
    * the corpus — the scoring agg runs ONLY over clustered members (one
    * inner join + one cluster-keyed `max(struct(score, -id))` argmax
    * with map-side partials; no window sort), and the corpus pays a
    * single anti-join against the loser sliver. `scoreCol` must be
    * orderable and is evaluated against `df`'s columns. */
  def dedupByClusterBest(df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: Column): DataFrame = {
    val clusters = nearDupClusters(pairs) // (id, cluster_id) — pair sliver
    val member = df.select(col(idCol), scoreCol.as("_score"))
      .join(clusters.withColumnRenamed("id", idCol), Seq(idCol))
    // argmax by (score, then min id): one struct-max agg, no window.
    // -id inverts the id order inside max(); ids are non-negative
    // throughout this library so the negation cannot overflow.
    val winners = member.groupBy("cluster_id")
      .agg(max(struct(col("_score").as("s"),
        (-col(idCol).cast("long")).as("negid"))).as("_w"))
      .select(col("cluster_id"), (-col("_w.negid")).as("_keep"))
    val losers = clusters.join(winners, Seq("cluster_id"))
      .filter(col("id") =!= col("_keep"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  private val SimhashBits = 30 // fits in polyHash's mod-1e9+7 range

  /** 30-bit SimHash fingerprint of the token array: bit i of the result is
    * set iff Σ_tokens (bit i of h(token) ? +1 : −1) > 0. */
  def simhash(tokens: Column,
      hashFn: Column => Column = Hashes.polyHash(_)): Column = {
    val hs = transform(tokens, t => hashFn(t))
    val bitSums = (0 until SimhashBits).map { i =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, i) =>
      when(s > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** 64-bit SimHash over xxhash64(token) — the production-width variant.
    * Wider fingerprints make pigeonhole banding selective (64 bits at
    * maxDist ≤ 8 gives 7-bit chunks); the 30-bit [[simhash]] exists for
    * cross-engine oracle replay, this one for scale. Requires
    * [[graft.expressions.HashFunctions.register]] on the session. */
  def simhash64(tokens: Column): Column =
    graft.expressions.HashFunctions.simhash_bits(transform(tokens, t => xxhash64(t)), 64)

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs within a blocking key: all pairs at Hamming
    * distance ≤ maxDist, by PIGEONHOLE BANDING instead of an all-pairs
    * self-join. The fingerprint is split into maxDist+1 bit chunks; a pair
    * within maxDist differs in ≤ maxDist bits, which can touch at most
    * maxDist chunks, so the pair must agree on ≥ 1 whole chunk. Candidates
    * are therefore recovered EXACTLY by an equi-join on
    * (block…, chunk_id, chunk_val) and verified with one popcount.
    *
    * Scale story: the shuffle key gains (chunk_id, chunk_val), so a skewed
    * block (one dominant language — the 100 TB norm) spreads over
    * (maxDist+1)·2^w sub-keys instead of landing on one reducer, and no
    * n²-row join ever appears in the plan. Banding selectivity is 2^w per
    * chunk where w ≈ bits/(maxDist+1): at the 30-bit oracle-replayable
    * width chunks are 3-4 bits (skew-free but dense candidates); prefer
    * [[simhash64]] at scale, whose 7-bit chunks cut candidates ~10×. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, fpCol: String,
      blockCols: Seq[String], maxDist: Int, bits: Int = SimhashBits): DataFrame = {
    require(maxDist >= 0 && maxDist < bits, s"maxDist must be in [0, $bits)")
    val nChunks = maxDist + 1
    val bounds = (0 to nChunks).map(i => (i.toLong * bits) / nChunks)
    val chunkStructs = (0 until nChunks).map { i =>
      val lo = bounds(i).toInt
      val w = (bounds(i + 1) - bounds(i)).toInt
      // Scala shifts are mod 64: (1L << 64) - 1 would be 0, collapsing a
      // full-width chunk (bits=64, maxDist=0) to a constant key — i.e.
      // the all-pairs join this operator exists to avoid
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      struct(lit(i).as("chunk_id"),
        shiftright(col(fpCol), lo).bitwiseAND(lit(mask)).as("chunk_val"))
    }
    val chunked = df
      .select((blockCols.map(col) :+ col(idCol) :+ col(fpCol) :+
        explode(array(chunkStructs: _*)).as("_c")): _*)
      .select((blockCols.map(col) :+ col(idCol) :+ col(fpCol) :+
        col("_c.chunk_id").as("chunk_id") :+ col("_c.chunk_val").as("chunk_val")): _*)
    val a = chunked.select((blockCols.map(col) ++ Seq(col("chunk_id"), col("chunk_val"),
      col(idCol).as("id_a"), col(fpCol).as("fp_a"))): _*)
    val b = chunked.select((blockCols.map(col) ++ Seq(col("chunk_id"), col("chunk_val"),
      col(idCol).as("id_b"), col(fpCol).as("fp_b"))): _*)
    // same rationale as [[candidatePairs]]: the sub-key shuffle is the
    // scale mechanism — never let the planner broadcast this self-join
    a.hint("shuffle_hash").join(b, blockCols ++ Seq("chunk_id", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", hamming(col("fp_a"), col("fp_b")))
      .filter(col("dist") <= maxDist)
      .select((blockCols.map(col) ++ Seq(col("id_a"), col("id_b"), col("dist"))): _*)
      .distinct() // a pair may agree on several chunks
  }

  /** X91 duplicated-substring span detection — the exact substring-level
    * dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better"), re-expressed for Spark without the suffix
    * array (which doesn't distribute): a token k-gram occurring more than
    * once ANYWHERE in the corpus marks its k-token window duplicated, and
    * overlapping/adjacent duplicated windows merge into maximal spans.
    * Same ≥k-token repeated regions, pure shuffle-on-key operators:
    *
    *  1. per doc, one codegen pass: token hashes, then the n−k+1
    *     positional gram hashes via the O(n) Rabin–Karp rolling chain
    *     ([[graft.expressions.HashKernels.gramChain]]);
    *  2. two-phase duplicated-gram detection: a map-side-folded gram
    *     count derives the duplicated-gram SET (bounded by the dup
    *     vocabulary), then the positional stream left-semi probes it;
    *  3. doc-keyed gaps-and-islands: duplicated positions sorted per doc,
    *     break when the next window starts past the previous window's
    *     coverage (gap > k), min/max per island ⇒ maximal span.
    *
    * Returns one row per maximal span: (doc_id, span_start, span_end,
    * span_tokens), token coordinates, span_tokens ≥ k.
    *
    * Scale: every shuffle is keyed (gram partials, then doc), a hot
    * boilerplate gram costs a streaming probe (never a sort, never a
    * pair fan-out) — that containment is what makes substring-level
    * dedup viable at corpus sizes where any pairwise formulation is not
    * (reference corpus ops: integrity.py:379-616 stop at whole-document
    * exact/near dedup). */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val grams = positionalGrams(docs, idCol, textCol, k)
    // Two-phase duplicated-gram set, NOT `count(*) over (partition by g)`:
    // the window formulation sends EVERY occurrence of a gram to one
    // reducer and SORTS it there — a boilerplate gram in 1% of a corpus
    // is a single task sorting billions of rows at 100 TB. Here the
    // groupBy's map-side partial fold shrinks the gram shuffle to
    // distinct-grams-per-mapper, the dup set is bounded by the duplicated
    // vocabulary (AQE broadcasts it when it fits), and the semi-join
    // probe streams — a hot gram costs a streaming probe, never a sort.
    // Measured (planted boilerplate): at sf1 with no hot mass the window
    // is ~1.1 s faster (the gram chain recompute below); that edge is
    // gone by sf4 (7.21 vs 7.19 s) and INVERTS whenever a gram is
    // actually hot (sf1 5%x30: window 3.67 s vs two-phase 2.71 s; sf4:
    // 9.20 vs 8.78 s) — full table in docs/SCALE.md, "Dedup pipeline". The
    // gram chain is recomputed for the probe side: map-only work, the
    // price of never materializing the gram stream.
    val dupGrams = grams.groupBy("g").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select("g")
    val flagged = grams
      .join(dupGrams, Seq("g"), "left_semi")
      .select("doc_id", "pos")
    mergeIslands(flagged, k)
  }

  /** X100 dedup threshold-sweep audit: the tuning curve a pipeline owner
    * reads BEFORE committing to a near-dup threshold — for each candidate
    * threshold, how many verified pairs survive, how many documents are
    * touched, and the mean retained similarity. Input is any verified
    * scored pair frame (id_a, id_b, sim-col); thresholds must all be ≥
    * the threshold that GENERATED the pairs (a banded pipeline is only
    * complete above its own banding threshold — sweeping below it would
    * silently under-count).
    *
    * Scale shape: the pair stream is the big input and it is read ONCE
    * with conditional sums (no |T|-way explode multiplying the shuffle,
    * no per-threshold distinct). Docs-touched-at-t folds through each
    * doc's MAX pair similarity — one doc-keyed groupBy over 2|P| rows —
    * because doc d is involved at t iff max(sim over d's pairs) ≥ t.
    * Everything after the two aggregations is a 1-row broadcast-sized
    * frame. Mean similarity sums as DECIMAL(20,12) so partial-sum order
    * can never skew the oracle comparison. */
  def thresholdSweep(pairs: DataFrame, simCol: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: need at least one threshold")
    // the pair pipeline behind `pairs` is usually the expensive part
    // (banded candidates + exact verify); the sweep reads it twice (pair
    // sums + doc-max), so share ONE materialization — lazy localCheckpoint
    // like nearDupClusters, freed by the ContextCleaner with the plan
    val p = pairs.select(col("id_a"), col("id_b"), simCol.as("_s"))
      .localCheckpoint(false)
    val docMax = p
      .select(explode(array(col("id_a"), col("id_b"))).as("_id"), col("_s"))
      .groupBy("_id").agg(max(col("_s")).as("_m"))
    val idx = thresholds.zipWithIndex
    val pairAggs = idx.flatMap { case (t, i) => Seq(
      sum(when(col("_s") >= t, 1L).otherwise(0L)).as(s"_np$i"),
      sum(when(col("_s") >= t, col("_s").cast("decimal(20,12)"))).as(s"_ss$i")) }
    val docAggs = idx.map { case (t, i) =>
      sum(when(col("_m") >= t, 1L).otherwise(0L)).as(s"_nd$i") }
    val joined = p.agg(pairAggs.head, pairAggs.tail: _*)
      .crossJoin(broadcast(docMax.agg(docAggs.head, docAggs.tail: _*)))
    val rows = idx.map { case (t, i) => struct(
      lit(t).as("threshold"),
      coalesce(col(s"_np$i"), lit(0L)).cast("long").as("n_pairs"),
      coalesce(col(s"_nd$i"), lit(0L)).cast("long").as("n_docs"),
      round(col(s"_ss$i").cast("double") / col(s"_np$i"), 6).as("avg_sim")) }
    joined.select(explode(array(rows: _*)).as("c")).select(col("c.*"))
      .orderBy("threshold")
  }

  /** The retired window-count formulation of [[duplicatedSpans]] — ONE
    * gram-keyed shuffle (beats two-phase when no gram is hot and the
    * corpus fits few partitions), kept as the reference implementation
    * `DuplicatedSpansSpec` checks the two-phase default against; the
    * straggler A/B that justifies that default is in docs/SCALE.md,
    * "Dedup pipeline". */
  def duplicatedSpansWindowed(docs: DataFrame, idCol: String, textCol: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val grams = positionalGrams(docs, idCol, textCol, k)
    val perGram = Window.partitionBy("g")
    val flagged = grams
      .withColumn("n_occ", count(lit(1)).over(perGram))
      .filter(col("n_occ") > 1)
      .select("doc_id", "pos")
    mergeIslands(flagged, k)
  }

  /** X95 substring-level decontamination — [[duplicatedSpans]] with the
    * duplication set swapped for an EVAL corpus's gram vocabulary: a
    * training-doc k-gram window is contaminated iff that exact k-token
    * sequence occurs anywhere in the held-out/eval set, and contiguous
    * contaminated windows merge to maximal spans. This is the span-level
    * sibling of whole-doc n-gram decontam (X32) and embedding decontam
    * (X85): those say WHICH docs overlap a benchmark; this says WHERE
    * and HOW MUCH, so a pipeline can surgically cut or down-weight the
    * contaminated region instead of dropping the document.
    *
    * Shape: eval grams are a distinct bounded set (benchmarks are small
    * by nature); the corpus gram stream left-semi joins it — gram-keyed,
    * and AQE broadcasts the eval side when it fits, making the corpus
    * pass effectively map-only. Returns (doc_id, span_start, span_end,
    * span_tokens) like [[duplicatedSpans]]. */
  def contaminatedSpans(corpus: DataFrame, eval: DataFrame, idCol: String,
      textCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"span gram width must be >= 2, got $k")
    val spark = corpus.sparkSession
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.HashFunctions.{poly_hash_array, gram_chain}
    val evalGrams = eval
      .select(TF.tokens(textCol).as("tk"))
      .select(explode(gram_chain(poly_hash_array(col("tk")), k)).as("g"))
      .distinct()
    val flagged = positionalGrams(corpus, idCol, textCol, k)
      .join(evalGrams, Seq("g"), "left_semi")
      .select("doc_id", "pos")
    mergeIslands(flagged, k)
  }

  /** One codegen pass per doc: token hashes, then the n−k+1 positional
    * gram hashes via the O(n) rolling chain, exploded to
    * (doc_id, pos, g). */
  /** X113 train/heldout split-leakage audit (public method: Lee et al.
    * 2022 "Deduplicating Training Data Makes Language Models Better";
    * the GPT-3 appendix's 13-gram train–test overlap check): split the
    * corpus into train/heldout by a deterministic LCG scramble of the
    * doc id (the X77 leakage-safe split pattern — engine-portable
    * integer arithmetic, no RNG), then report per source how many
    * heldout documents share at least one k-token gram with ANY train
    * document, and how many distinct grams leak. This is the audit a
    * pipeline owner runs BEFORE trusting heldout perplexity: a high
    * contamination rate means the eval set is memorizable from train.
    *
    * Scale shape: grams are the O(n) rolling-hash chain ([[Hashes]]
    * SpanGram constants — map-only, the text column never shuffles).
    * The train side collapses to DISTINCT grams with map-side partials
    * before the only corpus-sized shuffle (gram-keyed); the heldout
    * probe is a left-semi join on that key — `shuffle_hash`-hinted, both
    * sides corpus-scale so a sort-merge's double sort is wasted work and
    * a stats-miss broadcast would OOM. The two distinct-counts fold in
    * ONE pass over the hit sliver (Expand ×2, both branches collapse
    * map-side on (source, doc)/(source, gram) keys before the shuffle).
    * Heldout docs with fewer than k tokens have no grams and count as
    * clean — mirrored by the oracle's LEFT JOIN.
    *
    * The split key folds the id into [0, 2^31) before the LCG multiply,
    * so the arithmetic never exceeds 2^61 — identical in any engine with
    * 64-bit integers, no overflow divergence (the q100 lesson). */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: Column,
      sourceCol: Column, k: Int = 8, heldResidue: Long = 9L): DataFrame = {
    require(k >= 2, s"split-leakage gram width must be >= 2, got $k")
    require(heldResidue >= 0 && heldResidue < 10,
      s"heldResidue selects one of the 10 LCG residue classes, got $heldResidue")
    val spark = docs.sparkSession
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.HashFunctions.{gram_chain, poly_hash_array}
    val key = pmod(
      pmod(col("doc_id"), lit(2147483648L)) * lit(1103515245L) + lit(12345L),
      lit(2147483647L))
    val tagged = docs
      .select(col(idCol).cast("long").as("doc_id"), sourceCol.as("source"),
        textCol.as("_text"))
      .withColumn("_held", pmod(key, lit(10L)) === lit(heldResidue))
    val grams = tagged.select(col("doc_id"), col("source"), col("_held"),
      explode(gram_chain(poly_hash_array(TF.tokens(col("_text"))), k)).as("g"))
    val trainGrams = grams.filter(!col("_held")).select("g").distinct()
    val heldGrams = grams.filter(col("_held"))
      .select("source", "doc_id", "g").distinct()
    val hits = heldGrams.join(trainGrams.hint("shuffle_hash"), Seq("g"), "left_semi")
    val perSource = hits.groupBy("source").agg(
      countDistinct(col("doc_id")).as("n_contam_docs"),
      countDistinct(col("g")).as("n_overlap_grams"))
    val heldCounts = tagged.filter(col("_held"))
      .groupBy("source").agg(count(lit(1)).as("n_held_docs"))
    heldCounts.join(perSource, Seq("source"), "left")
      .select(col("source"), col("n_held_docs"),
        coalesce(col("n_contam_docs"), lit(0L)).as("n_contam_docs"),
        round(coalesce(col("n_contam_docs"), lit(0L)).cast("double") * 100 /
          col("n_held_docs"), 6).as("contam_pct"),
        coalesce(col("n_overlap_grams"), lit(0L)).as("n_overlap_grams"))
      .orderBy("source")
  }

  private def positionalGrams(docs: DataFrame, idCol: String,
      textCol: Column, k: Int): DataFrame = {
    val spark = docs.sparkSession
    graft.expressions.HashFunctions.register(spark)
    import graft.expressions.HashFunctions.{poly_hash_array, gram_chain}
    docs
      .select(col(idCol).as("doc_id"), TF.tokens(textCol).as("tk"))
      .select(col("doc_id"), posexplode(gram_chain(poly_hash_array(col("tk")), k)))
      .toDF("doc_id", "pos", "g")
  }

  /** X125 chunk-stitch boundary audit: find k-token boundary keys where
    * some document's LEADING k tokens equal another document's TRAILING k
    * tokens — the signature of sliding-window chunking artifacts
    * re-entering a corpus as "documents" (a chunk's head restates the
    * previous chunk's tail, so re-spliced fragments chain head-to-tail).
    * Self-matches (a doc whose own head equals its own tail — short
    * repetitive docs) are counted separately and excluded from the
    * stitch-pair count.
    *
    * Scale shape: two map-only projections (head key, tail key — token
    * slices, no explode), one key-keyed count agg each, one equi-join of
    * two AGGREGATED key tables (boundary-vocabulary-sized, not
    * corpus-sized), top-N via TakeOrderedAndProject. The pair count is
    * arithmetic on counts — no pair enumeration, so a boilerplate
    * opening shared by a million docs costs one row, not 10¹² pairs. */
  def chunkStitchAudit(docs: DataFrame, textCol: Column, k: Int = 8,
      topN: Int = 20): DataFrame = {
    require(k >= 1, s"chunkStitchAudit: k must be >= 1, got $k")
    val tk = docs.select(col("doc_id"), TF.tokens(textCol).as("_tk"))
      .filter(size(col("_tk")) >= 2 * k) // head and tail must not overlap
      .select(col("doc_id"),
        concat_ws(" ", slice(col("_tk"), 1, k)).as("_head"),
        concat_ws(" ", slice(col("_tk"), -k, k)).as("_tail"))
    val heads = tk.groupBy(col("_head").as("boundary_key"))
      .agg(count(lit(1)).as("n_heads"))
    val tails = tk.groupBy(col("_tail").as("boundary_key"))
      .agg(count(lit(1)).as("n_tails"))
    val selfs = tk.filter(col("_head") === col("_tail"))
      .groupBy(col("_head").as("boundary_key"))
      .agg(count(lit(1)).as("n_self"))
    heads.join(tails, "boundary_key")
      .join(selfs, Seq("boundary_key"), "left")
      .select(col("boundary_key"), col("n_heads"), col("n_tails"),
        coalesce(col("n_self"), lit(0L)).as("n_self"),
        (col("n_heads") * col("n_tails") - coalesce(col("n_self"), lit(0L)))
          .as("stitch_pairs"))
      .filter(col("stitch_pairs") >= 1)
      .orderBy(col("stitch_pairs").desc, col("boundary_key"))
      .limit(topN)
  }

  /** X127 duplicate-family size histogram + dedup yield forecast: group
    * docs into exact-duplicate families (whitespace-normalized text, the
    * q09 key) and report, PER FAMILY SIZE, how many families exist and
    * what a keep-one-per-family dedup would remove in documents and
    * tokens — the planning table behind "is exact dedup worth a pass on
    * this crawl slice" (the reference's quality report reports only the
    * aggregate dup rate; training pipelines budget by the histogram: a
    * corpus of twins dedups 2×, a corpus with one million-member family
    * barely shrinks).
    *
    * Members of an exact family share text, hence token counts, so
    * removable tokens per family = family total − one kept copy.
    *
    * Scale shape: one text-keyed agg (the q09 shuffle; at 100 TB the
    * group key would be the q26 fingerprint hash so only 8 bytes ride
    * the exchange — here the raw key keeps the oracle contract exact),
    * then one histogram-sized agg over the family table. No pairs, no
    * explode. */
  def dupFamilyStats(docs: DataFrame, textCol: Column): DataFrame = {
    val fams = docs
      .select(TF.normalizeWs(textCol).as("_t"),
        TF.tokenCount(textCol).cast("long").as("_tok"))
      .groupBy("_t")
      .agg(count(lit(1)).as("s"), sum(col("_tok")).as("toks"),
        min(col("_tok")).as("tok1"))
    fams.groupBy(col("s").as("family_size"))
      .agg(count(lit(1)).as("n_families"),
        sum(col("s")).cast("long").as("n_docs"),
        sum(col("s") - 1).cast("long").as("removable_docs"),
        sum(col("toks") - col("tok1")).cast("long").as("removable_tokens"))
      .orderBy("family_size")
  }

  /** Doc-keyed gaps-and-islands over flagged window positions: break when
    * the next window starts past the previous one's coverage (gap > k),
    * min/max per island ⇒ maximal span. */
  private def mergeIslands(flagged: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("brk",
        when(col("pos") - lag("pos", 1).over(byDoc) > k, 1).otherwise(0))
      .withColumn("island", sum("brk").over(byDoc))
      .groupBy("doc_id", "island")
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }
}

/** JVM-side kernels for [[Dedup.jaccardTopPairsBlocked]]. */
object JaccardKernels {

  private final case class Entry(jac: Double, idA: Long, idB: Long)

  /** Heap order: head = WORST kept entry under (jac desc, id_a, id_b). */
  private val worstFirst: Ordering[Entry] = new Ordering[Entry] {
    def compare(x: Entry, y: Entry): Int = {
      val c = java.lang.Double.compare(x.jac, y.jac)
      if (c != 0) c
      else {
        val ca = java.lang.Long.compare(y.idA, x.idA)
        if (ca != 0) ca else java.lang.Long.compare(y.idB, x.idB)
      }
    }
  }

  /** Top-k Jaccard pairs of a block rectangle over sorted-hash sets;
    * `ys == null` means the within-block triangular case. */
  def topPairs(xsIn: Array[(Long, Array[Long])],
      ysIn: Array[(Long, Array[Long])], k: Int): Iterator[(Long, Long, Double)] = {
    val xs = xsIn.sortBy(_._1)
    val ys = if (ysIn == null) xs else ysIn.sortBy(_._1)
    val pq = new scala.collection.mutable.PriorityQueue[Entry]()(worstFirst.reverse)
    var i = 0
    while (i < xs.length) {
      val (xid, xh) = xs(i)
      var j = if (ysIn == null) i + 1 else 0
      while (j < ys.length) {
        val (yid, yh) = ys(j)
        // union == 0 (two shingle-less docs) would give 0/0 = NaN, which
        // sorts FIRST under desc — degenerate pairs would crowd out real
        // ones. Such docs can't be near-dups; skip the pair.
        if (xid != yid && xh.length + yh.length > 0) {
          val inter = sortedIntersect(xh, yh)
          val jac = inter.toDouble / (xh.length + yh.length - inter)
          if (pq.size < k || jac >= pq.head.jac) {
            val e = Entry(jac, math.min(xid, yid), math.max(xid, yid))
            if (pq.size < k) pq.enqueue(e)
            else if (worstFirst.compare(e, pq.head) > 0) { pq.dequeue(); pq.enqueue(e) }
          }
        }
        j += 1
      }
      i += 1
    }
    pq.iterator.map(e => (e.idA, e.idB, e.jac)).toArray.iterator
  }

  private def sortedIntersect(x: Array[Long], y: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < x.length && j < y.length) {
      if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
      else if (x(i) < y(j)) i += 1
      else j += 1
    }
    c
  }

  /** Within-group id pairs for [[Dedup.jaccardTopPairsCollapsed]]: the
    * first min(k, C(m,2)) member pairs of one identical-encoding group in
    * (id_a, id_b) order (ms must arrive sorted ascending) — all that can
    * ever survive a global top-k limit. The jac of every such pair is
    * exactly 1.0 (sz/sz), attached by the caller. */
  def withinPairs(ms: Array[Long], k: Int): Iterator[(Long, Long)] = {
    var emitted = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var i = 0
    while (i < ms.length - 1 && emitted < k) {
      var j = i + 1
      while (j < ms.length && emitted < k) {
        out += ((ms(i), ms(j))); emitted += 1; j += 1
      }
      i += 1
    }
    out.iterator
  }
}
