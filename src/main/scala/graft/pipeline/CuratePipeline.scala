package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, TextFunctions => TF}
import graft.ingest.{Layout, Merge, WriterLease}
import graft.operators.{Corpus, Dedup, TextAnalysis}

/** Knobs of the composed curation run. Defaults match the constants the
  * individual audit queries pin (q19/q108 minhash 12-in-3-bands at 0.5,
  * q121's minWords=5 Gopher bounds, q57's benchMod=20 / 3-gram / 0.2
  * decontamination, q106's 1.25/1.4 UniMax budget, q110's 16 shards), so
  * the end-to-end oracle (q122) replays exactly the already-proven stage
  * semantics. */
case class CurateConfig(
    shingleWords: Int = 2,
    minhashK: Int = 12,
    bands: Int = 3,
    threshold: Double = 0.5,
    maxBucket: Int = Dedup.DefaultMaxBucket,
    gopherMinWords: Int = 5,
    gopherMaxWords: Int = 100000,
    gopherMinStops: Int = 1,
    benchMod: Int = 20,
    contamN: Int = 3,
    contamFrac: Double = 0.2,
    budgetFrac: Double = 1.25,
    maxEpochs: Double = 1.4,
    nShards: Int = 16,
    /** Fingerprint-range bucket count of the persisted norm bank
      * (see [[CuratePipeline.NormBankBuckets]]). STRUCTURAL: the value
      * is baked into the bank's partition-dir names at [[CuratePipeline
      * .run]] time, and [[CuratePipeline.runIncremental]]'s pruned probe
      * must use the SAME value or bucket pruning silently reads the
      * wrong slice — never change it mid-lake (refit with a full run).
      * Sizing: a bucket is the unit of probe IO; at 100 TB aim for a
      * few hundred MB per bucket (256+), at test scales the default 64
      * keeps dir counts sane. */
    normBankBuckets: Int = CuratePipeline.NormBankBuckets,
    /** Carry each exact survivor's 8-byte [[CuratePipeline.normFp]] as a
      * `norm_fp` column on the exact stage (dropped before neardup) so
      * the norm-bank derivation reads materialized longs instead of
      * re-normalizing and re-hashing the corpus text. On by default for
      * the paths that PERSIST or apply the bank ([[CuratePipeline.run]],
      * the q123 derivation); a plain [[CuratePipeline.stages]] chain that
      * never derives the bank can turn it off to skip the fold. */
    bankNormFp: Boolean = false,
    /** Merge-chain depth at which [[CuratePipeline.runIncremental]]
      * flattens a layer (parameter layers compact; the shards data
      * layer takes a metadata-only manifest checkpoint). Reads of a
      * merged layer cost O(chain depth), so the default keeps the
      * amortized parameter-layer rewrite under ~1/8 of layer bytes per
      * batch; operators with many small batches can lower it to
      * checkpoint more often. */
    compactChainDepth: Int = CuratePipeline.CompactChainDepth)

/** X129: the composed end-to-end curation RUN — the one product shape the
  * per-operator library did not have. The reference's signature entry
  * point is a chained DAG run (reference:
  * src/lakehouse/cli/commands/materialize.py:70 chains
  * spans→beats→sections→embeddings→index as ONE command); this is that
  * shape applied to the training-data domain:
  *
  *   raw documents
  *     → exact dedup (keep min doc_id per normalized text; X1/q09)
  *     → capped MinHash near-dup + best-of-cluster keep (X104/X112; q19/q108)
  *     → Gopher composite rule gate (X128; q121)
  *     → benchmark n-gram decontamination drop (X32; q57)
  *     → quality-decile curriculum sample (X71; q58)
  *     → UniMax mixture resampling (X109; q106)
  *     → deterministic training shards (X114; q110)
  *
  * Every stage keep-decision is the APPLY form of an operator whose audit
  * query is already individually oracle-checked, and the composed chain
  * is itself oracle-replayed end-to-end: q122 emits one accounting row
  * per stage — (n_docs, n_tokens, id_sum) — and the DuckDB oracle
  * re-derives the entire keep-decision chain in SQL, so a single
  * misrouted document anywhere in the pipeline breaks the hash.
  *
  * Scale shape, stage by stage: exact dedup is one text-keyed agg + one
  * semi-join (at 100 TB the group key becomes the q26 fingerprint with an
  * in-group verify, the q120-documented escalation); near-dup is the
  * capped banded pipeline (no n²-row join — bucket cap + pair sliver);
  * the Gopher gate is map-only; decontamination broadcasts the
  * benchmark's gram set (bounded by benchmark size, never corpus size);
  * the curriculum window partitions by language; UniMax broadcasts one
  * row per source and the explode is bounded by ⌈maxEpochs⌉; sharding is
  * a map-only hash. Nothing in the chain holds corpus-sized state on one
  * node.
  */
object CuratePipeline {

  /** Stage names in execution order (element 0 is the raw input). */
  val StageNames: Seq[String] = Seq("raw", "exact", "neardup", "quality",
    "decontam", "curriculum", "mixture", "shards")

  private[graft] def withTok(docs: DataFrame): DataFrame =
    docs.withColumn("n_tok", TF.tokenCount(col("text")).cast("long"))

  /** Stage transitions as (name, (raw, previous) => next) — `raw` rides
    * along because decontamination defines the benchmark split on the
    * ORIGINAL corpus (a doc deduped away still contributes its grams to
    * the benchmark set, exactly as q57 does). */
  private[pipeline] def transitions(
      cfg: CurateConfig,
      /** Handed the near-dup stage's materialized signature frame
        * (doc_id, sig, hsh, sz — every exact-stage survivor with
        * shingles) when that stage runs: the frozen-index derivations
        * ([[frozenFromStages]], [[run]]) filter it by survivor id
        * instead of re-running the shingle+minhash text pass. */
      sigSink: DataFrame => Unit = _ => ()): Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    "exact" -> ((_, prev) => exactStage(prev, cfg.bankNormFp)),
    "neardup" -> ((_, prev) => neardupStage(prev.drop("norm_fp"), cfg, sigSink)),
    "quality" -> ((_, prev) =>
      prev.filter(TextAnalysis.gopherRulePass(col("text"),
        cfg.gopherMinWords, cfg.gopherMaxWords, cfg.gopherMinStops))),
    "decontam" -> ((raw, prev) => decontamStage(raw, prev, cfg)),
    "curriculum" -> ((_, prev) => Corpus.applyCurriculum(prev)),
    "mixture" -> ((_, prev) =>
      Corpus.applyUnimax(prev, col("n_tok"), cfg.budgetFrac, cfg.maxEpochs)),
    "shards" -> ((_, prev) => shardStage(prev, cfg)))

  /** Keep the minimum doc_id per normalized text: one text-keyed agg with
    * map-side partials plus a semi-join back (no window sort). The
    * survivors keep their 8-byte [[normFp]] as a `norm_fp` column — the
    * norm-bank derivation ([[frozenFromStages]]/[[run]]) then reads
    * materialized longs instead of re-normalizing and re-hashing the
    * full corpus text (the next transition drops the column, so nothing
    * downstream carries it). */
  private def exactStage(docs: DataFrame, bankFp: Boolean): DataFrame = {
    val keyed = docs.withColumn("_norm", TF.normalizeWs(col("text")))
    // ONE corpus exchange (r15): min_by(struct(<row>), doc_id) keeps the
    // min-id member's full row per normalized text, with map-side
    // partials collapsing duplicate norms before the shuffle. The
    // previous agg + semi-join-back form shuffled the corpus twice at
    // scale: once to group (norm, id), then the full rows again on
    // doc_id for the semi-join (broadcastable only at toy scale).
    val cols = docs.columns.toSeq
    val kept = keyed.groupBy("_norm")
      .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("_r"))
    val restored = kept.select(
      (cols.map(c => col("_r." + c).as(c)) ++
        (if (bankFp) Seq(normFp(col("_norm")).as("norm_fp")) else Nil)): _*)
    restored
  }

  /** Capped banded MinHash pairs + quality-priority representative keep
    * (longest doc wins, ties to min id — the q108 contract). The pair
    * pipeline's materialized signature frame goes to `sigSink` so the
    * frozen-index derivation can reuse it (r16 — one shingle+minhash
    * pass over the corpus instead of two). */
  private def neardupStage(docs: DataFrame, cfg: CurateConfig,
      sigSink: DataFrame => Unit = _ => ()): DataFrame = {
    val (pairs, sigs) = Dedup.minhashNearDupsWithIndex(docs, "doc_id",
      col("text"), cfg.shingleWords, cfg.minhashK, cfg.bands, cfg.threshold,
      cfg.maxBucket)
    sigSink(sigs)
    Dedup.dedupByClusterBest(docs, "doc_id", pairs, col("n_tok"))
  }

  /** Drop benchmark members and any doc whose distinct word-n-gram
    * overlap with the benchmark's gram set reaches `contamFrac` — the
    * apply form of [[Corpus.decontaminationStats]]/q57's counting.
    *
    * Shape (r15): MAP-ONLY over `prev`. The benchmark gram set collapses
    * to ONE sorted-xxhash64-array row ([[benchGramArr]] — bounded by
    * benchmark size, broadcast to every task), each doc's distinct grams
    * hash-sort once, and the overlap count is a codegen binary-search
    * probe (`sorted_member_count`, O(|doc grams|·log |bench|)). This
    * removes the r12 shape's two corpus-wide exchanges per evaluation —
    * the gram-stats partial aggregation AND the prev ⋈ stats join-back —
    * leaving decontamination with no shuffle at all (the same
    * hash-encoded exact-set-intersection device the q27 langid classify
    * path uses; collisions need two distinct grams to share an xxhash64
    * value, ~n²/2⁶⁴, and the q122/q123/q57 oracle hashes pin the
    * equality on the test corpora). */
  private def decontamStage(raw: DataFrame, prev: DataFrame,
      cfg: CurateConfig): DataFrame = {
    graft.expressions.TextExprs.register(prev.sparkSession)
    graft.expressions.HashFunctions.register(prev.sparkSession)
    val isBench = pmod(col("doc_id"), lit(cfg.benchMod)) === 0
    val benchArr = benchGramArr(benchGramStream(raw, cfg))
    withGrams_(prev, cfg)
      .withColumn("_gh", graft.expressions.TextExprs.xx_sorted_hash(col("_grams")))
      .drop("_grams")
      .crossJoin(broadcast(benchArr))
      .filter(!isBench &&
        when(col("_n_grams") === 0, lit(0.0))
          .otherwise(graft.expressions.HashFunctions
            .sorted_member_count(col("_gh"), col("_barr")).cast("double")
            / col("_n_grams"))
          < cfg.contamFrac)
      .drop("_n_grams", "_gh", "_barr")
  }

  /** The benchmark gram set as ONE sorted-hash-array row (eager: tiny —
    * one array bounded by benchmark size — and consumed by every
    * decontam evaluation; lazy, each consumer would re-derive the
    * benchmark explode).
    *
    * `collect_set`, not distinct→collect_list (r16): the input may carry
    * duplicate grams (the raw per-doc explode, or a bank∪delta union) and
    * collect_set's partial buffers dedupe them map-side, so ONE exchange
    * carries partial sets to the 1-row merge instead of a full gram-keyed
    * distinct exchange followed by a second single-partition exchange.
    * xx_sorted_hash sorts the hashes, so the array is identical to the
    * old double-aggregation's for any input multiset. */
  private def benchGramArr(benchGrams: DataFrame): DataFrame =
    benchGrams
      .agg(graft.expressions.TextExprs.xx_sorted_hash(
        collect_set(col("g"))).as("_barr"))
      .localCheckpoint(true)

  /** Deterministic shard routing of (doc, copy) via the q110 Knuth
    * multiplicative device — copies of an upsampled doc spread across
    * shards instead of stacking in one training file. The fold into
    * [0, 2³¹) before the multiply keeps every product under 2⁶³ in both
    * engines. `shard_key` is the hive-safe string twin of `shard` that
    * the layer partitions on (and [[runIncremental]]'s MERGE upserts
    * by). */
  private def shardStage(mix: DataFrame, cfg: CurateConfig): DataFrame =
    mix.withColumn("shard",
      pmod(pmod(pmod(col("doc_id") * 37 + col("copy"), lit(2147483648L))
        * 2654435761L, lit(4294967296L)), lit(cfg.nShards.toLong)).cast("int"))
      .withColumn("shard_key", format_string("s%03d", col("shard")))

  /** The stage boundaries that carry an eager checkpoint barrier in the
    * materialized chain — the r12-measured load-bearing set. A barrier
    * is load-bearing when the stage's output is (a) expensive to
    * re-derive AND (b) re-evaluated by more than one downstream subplan:
    * `exact` (full-corpus text-keyed agg; the near-dup stage's pair
    * generator and best-keep both re-evaluate their input), `neardup`
    * (the capped minhash chain), and `curriculum` (the window pass;
    * applyUnimax re-evaluates its input twice — once for the allocation
    * agg, once for the join). The map-only boundaries (`quality` gate,
    * `mixture` explode, `shards` hash) recompute from the nearest
    * upstream barrier for less than their materialization cost, and
    * `decontam` needs no output barrier since r12's one-pass gram-stats
    * rewrite banks the expensive part internally (the output is just
    * prev ⋈ tiny-stats + filter) — see SCALE.md's barrier table. */
  val DefaultBarriers: Set[String] = Set("exact", "neardup", "curriculum")

  /** The composed stage frames, raw first. Each frame carries the
    * documents schema plus `n_tok`; mixture adds `copy`, shards adds
    * `shard`/`shard_key`. With `materialize` (default) the load-bearing
    * stage boundaries ([[DefaultBarriers]]) are eager localCheckpoints,
    * so a consumer that evaluates several stages (q122's 8 accounting
    * rows, q123's frozen parameters) computes each expensive stage ONCE
    * instead of re-deriving the whole prefix chain per action — the
    * in-memory analog of [[run]]'s write/read-back boundaries (q122 at
    * sf0.1: 16.6 s → one chain pass). Pass `materialize = false` to
    * keep the raw composed plan (the PlanAssertSpec pin inspects that
    * form). */
  def stages(docs: DataFrame, cfg: CurateConfig = CurateConfig(),
      materialize: Boolean = true): Seq[(String, DataFrame)] =
    stagesSelective(docs, cfg,
      if (materialize) DefaultBarriers else Set.empty)

  /** [[stages]] with an explicit barrier set and an optional early stop:
    * `barriers` names the stage outputs to eagerly checkpoint (a stage
    * not named recomputes lazily from the nearest upstream barrier);
    * `upTo` truncates the chain after the named stage — the frozen-
    * parameter derivation needs nothing past `curriculum`, so the q123
    * path skips materializing the full side's mixture and shards
    * entirely. */
  private[graft] def stagesSelective(docs: DataFrame, cfg: CurateConfig,
      barriers: Set[String], upTo: String = "shards"): Seq[(String, DataFrame)] =
    stagesWithSigs(docs, cfg, barriers, upTo)._1

  /** [[stagesSelective]] that also returns the near-dup stage's
    * materialized signature frame (None when the chain stops before
    * `neardup`) — the side channel [[frozenFromStages]] consumes so the
    * frozen index derivation is an id filter, not a second corpus
    * shingle+minhash pass (r16). */
  private[graft] def stagesWithSigs(docs: DataFrame, cfg: CurateConfig,
      barriers: Set[String], upTo: String = "shards")
      : (Seq[(String, DataFrame)], Option[DataFrame]) = {
    val raw = withTok(docs)
    var sigs: Option[DataFrame] = None
    val wanted = {
      val ts = transitions(cfg, s => sigs = Some(s))
      val idx = ts.indexWhere(_._1 == upTo)
      if (idx < 0) ts else ts.take(idx + 1)
    }
    val frames = wanted.scanLeft(("raw", raw)) {
      case ((_, prev), (name, f)) =>
        val out = f(raw, prev)
        // EAGER checkpoint: a lazy one would not be materialized when the
        // 8-agg accounting union is PLANNED, so that single query inlines
        // the full lineage of every non-checkpointed stage. Pre-r11 that
        // inlining cost 41-60 s at sf0.1 (O(tokens²) shingle re-eval);
        // after the token-materialization and one-pass gram-stats fixes
        // the barrier-free chain is merely ~45% slower than the measured
        // barrier set (6.6 s vs 4.5 s at sf0.1; docs/SCALE.md, "Which
        // barriers are load-bearing") —
        // exchange reuse dedupes the agg subtrees within the one plan,
        // so the barriers are now a measured optimization, not a cliff
        (name, if (barriers(name)) out.localCheckpoint(true) else out)
    }
    (frames, sigs)
  }

  /** Per-stage accounting: (stage_idx, stage, n_docs, n_tokens, id_sum).
    * id_sum counts multiplicity after mixture; the shards row weights
    * each id by (shard + 1) so any misrouted document changes the
    * checksum. */
  def accounting(stageFrames: Seq[(String, DataFrame)]): DataFrame =
    stageFrames.zipWithIndex.map { case ((name, df), i) =>
      val idExpr =
        if (name == "shards") col("doc_id") * (col("shard") + lit(1)).cast("long")
        else col("doc_id")
      df.agg(
        count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum(col("n_tok")), lit(0L)).cast("long").as("n_tokens"),
        coalesce(sum(idExpr), lit(0L)).cast("long").as("id_sum"))
        .select(lit(i).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"), col("id_sum"))
    }.reduce(_ unionByName _).orderBy("stage_idx")

  /** Layer names of the frozen corpus-fitted parameters [[run]] persists
    * for [[runIncremental]] to apply: the banked near-dup signature
    * index (batch-partitioned so delta appends MERGE one partition), the
    * benchmark gram set, the per-(lang, decile) curriculum score bounds,
    * and the UniMax per-source epoch allocation. */
  object Frozen {
    val NormBank = "curated/norm_bank"
    val NearDupIndex = "curated/neardup_index"
    val BenchGrams = "curated/bench_grams"
    val CurriculumBounds = "curated/curriculum_bounds"
    val UnimaxAlloc = "curated/unimax_alloc"
  }

  /** Fingerprint-range buckets the norm bank partitions on. The bank's
    * single hive partition column packs (batch, fp mod buckets) as
    * `bNNNN-fXX`, so a batch append is still a pure new-directory MERGE
    * (≤ [[NormBankBuckets]] new dirs, O(delta) bytes) while the delta
    * probe prunes its read to the `-fXX` suffixes the delta's own
    * fingerprints can possibly hit — at a year of daily batches the
    * probe reads |touched buckets| / [[NormBankBuckets]] of the bank
    * instead of all of it. */
  val NormBankBuckets = 64

  private[graft] def normBucket(batchNo: Int,
      buckets: Int = NormBankBuckets): org.apache.spark.sql.Column =
    format_string("b%04d-f%03d", lit(batchNo),
      pmod(col("norm_fp"), lit(buckets.toLong)))

  /** The banked norm fingerprints a delta batch's exact probe needs:
    * the latest bank read PRUNED to the fp buckets the delta's own
    * fingerprints map to (any banked fp equal to a delta fp shares its
    * bucket by construction, so the anti-join against the pruned set
    * equals the anti-join against the full bank). The bucket list is
    * collected driver-side — bounded by [[NormBankBuckets]], never by
    * corpus or delta size. */
  private[graft] def prunedNormBank(spark: SparkSession, base: String,
      deltaDocs: DataFrame, buckets: Int = NormBankBuckets): DataFrame = {
    val hit = deltaDocs
      .select(pmod(normFp(TF.normalizeWs(col("text"))),
        lit(buckets.toLong)).as("_b"))
      .distinct().collect().map(r => r.getLong(0)).toSeq
    // match on the NUMERIC bucket id, not the zero-padded string: the
    // suffix width changed f%02d → f%03d when the bucket count became a
    // knob, and a string match against the current width silently reads
    // ZERO buckets from a lake persisted at the old width — every
    // banked duplicate would then pass the delta's exact stage. The
    // numeric form reads both vintages; it is still a partition-column
    // expression, so the probe keeps pruning to the hit dirs.
    Layout.loadLatest(spark, base, Frozen.NormBank)
      .filter(substring(substring_index(col("bucket"), "-", -1), 2, 10)
        .cast("long").isin(hit: _*))
      .select(col("norm_fp"))
  }

  /** ~60-bit cross-engine-replayable fingerprint of a normalized text —
    * the q120-documented escalation made real: the incremental exact
    * stage anti-joins 8-byte keys against the banked corpus instead of
    * shuffling full text. Two GENUINELY independent poly-hashes packed
    * into one long — different multiplier (131 vs 137) AND different
    * prime modulus (1e9+7 vs 998244353), so a false drop needs two
    * unrelated ~30-bit collisions at once (odds ~n²/2⁶⁰; birthday-safe
    * to ~10⁸ banked norms). The earlier second factor
    * polyHash("x"+norm) was affinely determined by polyHash(norm) for
    * equal-length norms, collapsing entropy to ~30 bits per length
    * class (r11 ADVICE, high). Both factors are plain string
    * poly-hashes, so the q123 oracle replays the key exactly. */
  private[graft] def normFp(norm: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Hashes.polyHash(norm) * lit(2147483648L) + Hashes.polyHash2(norm)

  /** Distinct norm fingerprints of an exact-stage frame: reads the
    * materialized `norm_fp` column when the chain ran with
    * `bankNormFp` (an 8-byte distinct), re-deriving from text only as
    * the fallback. */
  private def normBankOf(exact: DataFrame): DataFrame =
    (if (exact.columns.contains("norm_fp")) exact.select(col("norm_fp"))
     else exact.select(normFp(TF.normalizeWs(col("text"))).as("norm_fp")))
      .distinct()

  /** Materialize the token array in its own column BEFORE shingling —
    * passing the raw `tokens(text)` expression into the shingle lambda
    * makes Catalyst re-run the split once per shingle (O(tokens²) per
    * doc; the decontam stage measured 10.7 s of q122's 16 s at sf0.1
    * before this, 0.4 s after). */
  private def withGrams_(frame: DataFrame, cfg: CurateConfig): DataFrame = {
    graft.expressions.TextExprs.register(frame.sparkSession)
    frame.withColumn("_tk", TF.tokens(col("text")))
      .withColumn("_grams",
        // single-pass codegen shingle kernel (the transform+slice+
        // concat_ws HOF chain interprets a lambda per shingle — measured
        // 2-3× slower on the q57 probe r15)
        graft.expressions.TextExprs.distinct_word_ngrams(col("_tk"), cfg.contamN))
      .withColumn("_n_grams", size(col("_grams")))
      .drop("_tk")
  }

  /** Per-doc-distinct benchmark gram stream (duplicates ACROSS docs
    * remain): the right input for [[benchGramArr]], whose collect_set
    * dedupes map-side — paying a gram-keyed distinct exchange first
    * would be pure waste. Consumers that need distinct ROWS (the
    * persisted [[Frozen.BenchGrams]] layer, the novel-gram anti-join)
    * use [[benchGramSet]]. */
  private def benchGramStream(raw: DataFrame, cfg: CurateConfig): DataFrame =
    withGrams_(raw.filter(pmod(col("doc_id"), lit(cfg.benchMod)) === 0), cfg)
      .select(explode(col("_grams")).as("g"))

  private[graft] def benchGramSet(raw: DataFrame, cfg: CurateConfig): DataFrame =
    benchGramStream(raw, cfg).distinct()

  /** Per-(lang, decile) upper score bound of the full run's curriculum
    * split — the frozen form a delta batch is graded against. Exact
    * ntile by mandate (see [[Corpus.applyCurriculum]]'s r12 decision
    * note: approx quantiles are not cross-engine replayable); the
    * window input is projected to (lang, score, doc_id) first so the
    * per-language sort never carries text. */
  private def curriculumBounds(dec: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("_score"), col("doc_id"))
    dec.select(col("doc_id"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("_score"))
      .withColumn("decile", ntile(10).over(w))
      .groupBy("lang", "decile").agg(max(col("_score")).as("hi"))
  }

  /** Materializing run: each stage lands as a committed
    * `curated/<stage>` [[Layout]] version (shards partitioned by
    * shard_key), with each stage READING BACK the previous stage's
    * published files — so a stage costs itself once, the chain restarts
    * from any committed prefix (`resume = true` reuses the longest
    * contiguous committed stage prefix and recomputes from the first
    * gap; CrashRecoverySpec kills the chain between commits and proves
    * the restart recomputes only the unfinished suffix), and a crash
    * mid-stage leaves only an unpublished version behind (vacuum
    * reclaims it). Also persists the [[Frozen]] parameter layers the
    * incremental path applies. Returns the accounting table, itself
    * committed as `curated/accounting`. */
  def run(spark: SparkSession, docs: DataFrame, base: String,
      cfg0: CurateConfig = CurateConfig(), resume: Boolean = false,
      /** Test seam (CrashRecoverySpec): abort right after the named
        * stage's commit — the exact state a driver kill between stage
        * commits leaves behind. Never set in production. */
      crashAfterStage: Option[String] = None): DataFrame =
      WriterLease.withLease(spark, base) {
    // run() always persists the norm bank — carry the fp on the exact
    // layer so the bank derivation is a column select, not a re-hash
    val cfg = cfg0.copy(bankNormFp = true)
    val raw = withTok(docs)
    val materialized = Seq.newBuilder[(String, DataFrame)]
    materialized += ("raw" -> raw)
    var prev = raw
    // resume=true (crash recovery): reuse the longest CONTIGUOUS prefix
    // of already-committed stage layers instead of recomputing them —
    // a crash mid-stage left only an uncommitted version behind
    // (invisible to loadLatest; vacuum reclaims it), so the committed
    // prefix is exactly the work that finished. Only pass resume after
    // a crashed run over the SAME input: a committed stage is reused
    // as-is, never revalidated against `docs`.
    var resuming = resume
    // near-dup signature side channel (r16): when the neardup stage runs
    // in THIS session, its materialized signature frame derives the
    // frozen index by id filter; on a resumed chain whose neardup layer
    // was reused as-is the sink never fires and the derivation falls
    // back to the re-shingling form
    var neardupSigs: Option[DataFrame] = None
    transitions(cfg, s => neardupSigs = Some(s)).foreach { case (name, f) =>
      val layer = s"curated/$name"
      if (resuming && Layout.committedVersions(spark, base, layer).nonEmpty) {
        prev = Layout.loadLatest(spark, base, layer)
      } else {
        resuming = false // recompute everything past the first gap
        val parts = if (name == "shards") Seq("shard_key") else Nil
        val out = f(raw, prev)
        val dir = Layout.writeVersioned(out, base, layer, partitionCols = parts)
        // read back with the stage's own schema: a stage that keeps zero
        // documents may leave no data file to infer one from
        prev = spark.read.schema(out.schema).parquet(dir)
      }
      materialized += (name -> prev)
      if (crashAfterStage.contains(name))
        throw new IllegalStateException(s"simulated crash after $name commit")
    }
    val frames = materialized.result().toMap
    // frozen parameters for the incremental path
    Layout.writeVersioned(
      normBankOf(frames("exact"))
        .withColumn("bucket", normBucket(0, cfg.normBankBuckets)),
      base, Frozen.NormBank, partitionCols = Seq("bucket"))
    Layout.writeVersioned(
      neardupSigs.map(_.join(frames("neardup").select(col("doc_id")),
          Seq("doc_id"), "left_semi"))
        .getOrElse(Dedup.nearDupIndex(frames("neardup"), "doc_id", col("text"),
          cfg.shingleWords, cfg.minhashK))
        .withColumn("batch", lit("b0000")),
      base, Frozen.NearDupIndex, partitionCols = Seq("batch"))
    Layout.writeVersioned(
      benchGramSet(raw, cfg).withColumn("batch", lit("b0000")),
      base, Frozen.BenchGrams, partitionCols = Seq("batch"))
    Layout.writeVersioned(curriculumBounds(frames("decontam")),
      base, Frozen.CurriculumBounds)
    Layout.writeVersioned(
      Corpus.unimaxAllocation(frames("curriculum"), col("source"),
        col("n_tok"), cfg.budgetFrac, cfg.maxEpochs)
        .select("source", "epochs"),
      base, Frozen.UnimaxAlloc)
    val acc = accounting(materialized.result())
    Layout.writeVersioned(acc, base, "curated/accounting")
    Layout.loadLatest(spark, base, "curated/accounting").orderBy("stage_idx")
  }

  /** Incremental form (VERDICT r10, Next-round #7): curate a DELTA batch
    * of new documents against an existing [[run]]-produced lake at
    * delta-proportional cost, instead of re-running the full corpus.
    * Keep decisions apply the FROZEN corpus-fitted parameters of the
    * last full run — the standard production contract (parameters refit
    * on the next full run):
    *
    *  - exact: a delta doc whose normalized-text FINGERPRINT matches the
    *    banked [[Frozen.NormBank]] (8-byte [[normFp]] keys — the
    *    q120-documented escalation: the bank side never shuffles text; a
    *    match against a previously DROPPED doc lands on its kept
    *    representative's norm, so survivor norms suffice) is dropped;
    *    within-batch groups keep min id. Kept fps MERGE into the bank as
    *    one new batch of fp-bucket partitions, and the probe PRUNES its
    *    bank read to the delta's own fp buckets ([[prunedNormBank]]) —
    *    O(touched buckets), not O(bank).
    *  - neardup: [[Dedup.incrementalNearDups]] against the banked
    *    signature index — only delta-touching pairs are scored (never
    *    index×index). Existing docs WIN every delta-vs-existing contest
    *    (incremental keeps are order-dependent by design — the banked
    *    corpus is already published); delta-vs-delta contests use the
    *    batch rule (best n_tok, ties min id). Kept delta signatures
    *    MERGE into the index as one new batch PARTITION, so the index
    *    append is O(delta), not O(corpus).
    *  - quality: map-only, identical gate.
    *  - decontam: the banked benchmark gram set, plus this batch's own
    *    benchmark members (dropped from training, grams banked for
    *    future batches).
    *  - curriculum: decile = 1 + #(frozen lower-decile bounds below the
    *    doc's score); unseen languages default to decile 1 (keep 10% —
    *    conservative until the next full refit).
    *  - mixture: the frozen per-source epochs; unseen sources default to
    *    1.0 (keep once).
    *  - shards: identical routing; the delta's (doc_id, copy) rows MERGE
    *    into the shards layer — only TOUCHED shard partitions rewrite,
    *    untouched partitions are inherited file-identical (at production
    *    shard counts the touched fraction is batch-proportional; this
    *    library's Layout analog rewrites a touched partition whole where
    *    a real table format would append a file to it).
    *
    * Returns the delta's per-stage accounting (same shape as [[run]]'s,
    * stage "raw" = the delta input). Re-submitting an already-curated
    * batch is IDEMPOTENT: every doc's norm fingerprint is banked, so the
    * whole batch dies at the exact stage. A banked doc_id arriving with
    * genuinely NEW text instead trips the id-disjointness guard (the J5
    * contract — ids are immutable once banked). */
  def runIncremental(spark: SparkSession, deltaDocs: DataFrame, base: String,
      cfg: CurateConfig = CurateConfig()): DataFrame =
      WriterLease.withLease(spark, base) {
    val frozen = FrozenParams(
      // pruned to the delta's fp buckets — reads a bounded fraction of
      // the bank, not all of it (see [[prunedNormBank]])
      bankedNorms = prunedNormBank(spark, base, deltaDocs, cfg.normBankBuckets),
      index = Layout.loadLatest(spark, base, Frozen.NearDupIndex).drop("batch"),
      benchGrams = Layout.loadLatest(spark, base, Frozen.BenchGrams).drop("batch"),
      bounds = Layout.loadLatest(spark, base, Frozen.CurriculumBounds),
      alloc = Layout.loadLatest(spark, base, Frozen.UnimaxAlloc))
    val (st, deltaIdx) = incrementalStagesWithIdx(deltaDocs, frozen, cfg)
    val frames = st.toMap
    val (raw, neardupDelta, shardDelta) =
      (frames("raw"), frames("neardup"), frames("shards").localCheckpoint(false))

    // shards: identical routing, MERGE only the touched partitions
    if (!shardDelta.isEmpty)
      Merge.merge(spark, base, "curated/shards", shardDelta,
        Seq("doc_id", "copy"), "shard_key")

    // bank the kept delta's signatures as ONE new index partition
    val batchNo = Layout
      .committedVersions(spark, base, Frozen.NearDupIndex).last + 1
    // kept slice of the already-materialized delta index — no second
    // shingle+minhash pass over the kept delta text (r16)
    val newIdx = deltaIdx
      .join(neardupDelta.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .withColumn("batch", format_string("b%04d", lit(batchNo)))
    if (!newIdx.isEmpty)
      Merge.merge(spark, base, Frozen.NearDupIndex, newIdx,
        Seq("doc_id"), "batch")
    // bank the kept delta norms' fingerprints as one new batch of bucket
    // partitions (≤ NormBankBuckets new dirs, O(delta) bytes; no banked
    // fp can collide with a kept delta fp — the exact stage dropped
    // every match — so the merge is a pure append)
    val normBatchNo = Layout
      .committedVersions(spark, base, Frozen.NormBank).last + 1
    val newNorms = normBankOf(frames("exact"))
      .withColumn("bucket", normBucket(normBatchNo, cfg.normBankBuckets))
    if (!newNorms.isEmpty)
      Merge.merge(spark, base, Frozen.NormBank, newNorms,
        Seq("norm_fp"), "bucket")
    // bank this batch's NOVEL benchmark grams as one new batch partition
    // — O(delta) appended bytes, where r11 rewrote the whole gram bank
    // per batch (the bank stays distinct by construction: each batch
    // anti-joins the bank it was graded against, and grams already
    // banked by an earlier batch can never re-enter)
    val benchBatchNo = Layout
      .committedVersions(spark, base, Frozen.BenchGrams).last + 1
    val novelBenchGrams = benchGramSet(withTok(deltaDocs), cfg)
      .join(frozen.benchGrams, Seq("g"), "left_anti")
      .withColumn("batch", format_string("b%04d", lit(benchBatchNo)))
    if (!novelBenchGrams.isEmpty)
      Merge.merge(spark, base, Frozen.BenchGrams, novelBenchGrams,
        Seq("g"), "batch")

    // periodic chain flattening: every MERGE append deepens a layer's
    // inheritance chain, and every read of a merged layer unions one
    // root per link — measured on the sf1 soak as +50% cost-per-batch
    // creep by batch 10. At the CompactChainDepth threshold the
    // PARAMETER layers (bank/index/grams: bytes ∝ docs × tens of
    // bytes) compact whole — a bounded rewrite that also packs small
    // files — while the shards DATA layer takes a METADATA-ONLY
    // manifest checkpoint (Merge.checkpoint): the resolved partition
    // map is published as a marker, every data file stays in place, and
    // the flatten costs O(partitions) listing instead of the O(corpus)
    // rewrite the old whole-layer compact implied every 8 batches
    // (r12 verdict #3). Small-file packing of the shards layer remains
    // Layout.compact — a DATA maintenance job on the operator's own
    // cadence, no longer coupled to chain depth.
    if (Merge.chainDepth(spark, base, "curated/shards") >= cfg.compactChainDepth)
      Merge.checkpoint(spark, base, "curated/shards")
    Seq((Frozen.NearDupIndex, Seq("batch")),
      (Frozen.NormBank, Seq("bucket")),
      (Frozen.BenchGrams, Seq("batch"))).foreach { case (layer, parts) =>
      if (Merge.chainDepth(spark, base, layer) >= cfg.compactChainDepth)
        Layout.compact(spark, base, layer, partitionCols = parts)
    }

    accounting(st.map { case (n, df) => (n, if (n == "shards") shardDelta else df) })
  }

  /** Default for [[CurateConfig.compactChainDepth]] — reads of a merged
    * layer cost O(chain depth), so unbounded append-only operation would
    * creep O(batches). 8 keeps the amortized parameter-layer rewrite
    * under ~1/8 of layer bytes per batch. */
  val CompactChainDepth = 8

  /** The frozen corpus-fitted parameters the incremental path applies —
    * [[runIncremental]] loads them from the [[Frozen]] layers;
    * [[frozenFromStages]] derives them lazily from a full run's stage
    * frames (the q123 oracle path, no IO). */
  final case class FrozenParams(bankedNorms: DataFrame, index: DataFrame,
      benchGrams: DataFrame, bounds: DataFrame, alloc: DataFrame)

  /** Derive [[FrozenParams]] from a full run's lazy stage frames (as
    * returned by [[stages]]) — the pure twin of what [[run]] persists.
    * Pass `neardupSigs` (the side channel of [[stagesWithSigs]]) to
    * derive the frozen index as an id filter of the already-materialized
    * signature frame instead of re-running the survivor shingle+minhash
    * pass — `sigs ⋉ survivors ≡ nearDupIndex(survivors)` exactly
    * ([[graft.operators.Dedup.minhashNearDupsWithIndex]]'s contract). */
  def frozenFromStages(stageFrames: Seq[(String, DataFrame)],
      cfg: CurateConfig, neardupSigs: Option[DataFrame] = None): FrozenParams = {
    val f = stageFrames.toMap
    FrozenParams(
      bankedNorms = normBankOf(f("exact")),
      // checkpoint the derived index: incrementalStages consumes it
      // twice (the eager disjointness guard, then the banded chain) —
      // unchecked, the full-side minhash pass would run once per
      // consumer
      index = neardupSigs.map(_.join(f("neardup").select(col("doc_id")),
          Seq("doc_id"), "left_semi").localCheckpoint(false))
        .getOrElse(Dedup.nearDupIndex(f("neardup"), "doc_id",
          col("text"), cfg.shingleWords, cfg.minhashK).localCheckpoint(false)),
      benchGrams = benchGramSet(f("raw"), cfg),
      // no extra checkpoints: each is consumed once, and `curriculum`
      // is already an eager stage barrier — a lazy copy on top would
      // just serialize the corpus again
      bounds = curriculumBounds(f("decontam")),
      alloc = Corpus.unimaxAllocation(f("curriculum"),
        col("source"), col("n_tok"), cfg.budgetFrac, cfg.maxEpochs)
        .select("source", "epochs"))
  }

  /** The incremental keep-decision chain as pure lazy frames — the core
    * [[runIncremental]] materializes and the q123 oracle replays. Same
    * stage names and schemas as [[stages]]. */
  def incrementalStages(deltaDocs: DataFrame, frozen: FrozenParams,
      cfg: CurateConfig = CurateConfig()): Seq[(String, DataFrame)] =
    incrementalStagesWithIdx(deltaDocs, frozen, cfg)._1

  /** [[incrementalStages]] that also returns the delta's materialized
    * [[graft.operators.Dedup.nearDupIndex]] frame (every exact-stage
    * survivor with shingles) — [[runIncremental]] filters it by the kept
    * ids to bank the delta's signatures instead of re-running the delta
    * shingle+minhash pass (r16). */
  private[graft] def incrementalStagesWithIdx(deltaDocs: DataFrame,
      frozen: FrozenParams, cfg: CurateConfig)
      : (Seq[(String, DataFrame)], DataFrame) = {
    val raw = withTok(deltaDocs)

    // exact vs the banked 8-byte norm fingerprints + within-batch.
    // Same one-exchange min_by(struct) keep as the batch exactStage;
    // norm_fp stays on the frame (already computed for the anti-join):
    // [[runIncremental]] banks it without re-hashing the delta text
    val keyed = raw.withColumn("_norm", TF.normalizeWs(col("text")))
      .withColumn("norm_fp", normFp(col("_norm")))
      .join(frozen.bankedNorms, Seq("norm_fp"), "left_anti")
    val exCols = raw.columns.toSeq :+ "norm_fp"
    val exactDelta = keyed.groupBy("_norm")
      .agg(min_by(struct(exCols.map(col): _*), col("doc_id")).as("_r"))
      .select(exCols.map(c => col("_r." + c).as(c)): _*)
      .localCheckpoint(true)

    // neardup vs banked index + within-batch best-keep.
    // incrementalNearDups' contract: delta ids disjoint from the index's
    require(exactDelta.join(frozen.index.select("doc_id"), Seq("doc_id"), "left_semi")
      .limit(1).isEmpty,
      "delta doc_ids must be disjoint from the banked corpus")
    // delta index computed ONCE (checkpointed): the banded chain below
    // re-scans it, and runIncremental banks the kept slice of it
    val deltaIdx = Dedup.nearDupIndex(exactDelta, "doc_id", col("text"),
      cfg.shingleWords, cfg.minhashK).localCheckpoint(false)
    val pairs = Dedup.incrementalNearDupsFromIndex(frozen.index, deltaIdx,
      "doc_id", cfg.minhashK, cfg.bands, cfg.threshold, cfg.maxBucket)
    val ma = exactDelta.select(col("doc_id").as("id_a"), lit(true).as("_a"))
    val mb = exactDelta.select(col("doc_id").as("id_b"), lit(true).as("_b"))
    val flagged = pairs.join(ma, Seq("id_a"), "left").join(mb, Seq("id_b"), "left")
      .withColumn("_a", coalesce(col("_a"), lit(false)))
      .withColumn("_b", coalesce(col("_b"), lit(false)))
      .localCheckpoint(true)
    val dropVsExisting = flagged.filter(col("_a") =!= col("_b"))
      .select(when(col("_a"), col("id_a")).otherwise(col("id_b")).as("doc_id"))
      .distinct()
    val deltaPairs = flagged.filter(col("_a") && col("_b"))
      .select("id_a", "id_b", "jac")
    val neardupDelta = Dedup.dedupByClusterBest(
      exactDelta.join(dropVsExisting, Seq("doc_id"), "left_anti"),
      "doc_id", deltaPairs, col("n_tok")).drop("norm_fp").localCheckpoint(true)

    // quality gate (map-only, identical rule)
    val qualityDelta = neardupDelta.filter(TextAnalysis.gopherRulePass(
      col("text"), cfg.gopherMinWords, cfg.gopherMaxWords, cfg.gopherMinStops))

    // decontam vs banked grams ∪ this batch's benchmark members — the
    // same map-only sorted-hash probe as the batch stage (see
    // [[decontamStage]]): the combined gram set collapses to one sorted
    // hash array, the delta never shuffles
    graft.expressions.TextExprs.register(raw.sparkSession)
    graft.expressions.HashFunctions.register(raw.sparkSession)
    val isBench = pmod(col("doc_id"), lit(cfg.benchMod)) === 0
    // union of the banked distinct grams and the delta's per-doc-distinct
    // stream: benchGramArr's collect_set dedupes across the union, so
    // neither the delta-side distinct nor the union-wide distinct is paid
    val allBenchArr = benchGramArr(
      frozen.benchGrams.unionByName(benchGramStream(raw, cfg)))
    val decontamDelta = withGrams_(qualityDelta, cfg)
      .withColumn("_gh", graft.expressions.TextExprs.xx_sorted_hash(col("_grams")))
      .drop("_grams")
      .crossJoin(broadcast(allBenchArr))
      .filter(!isBench &&
        when(col("_n_grams") === 0, lit(0.0))
          .otherwise(graft.expressions.HashFunctions
            .sorted_member_count(col("_gh"), col("_barr")).cast("double")
            / col("_n_grams"))
          < cfg.contamFrac)
      .drop("_n_grams", "_gh", "_barr")

    // curriculum against the frozen bounds. The grouped bounds/alloc
    // frames checkpoint EAGERLY even though they are tiny (≤ langs×10 /
    // one row per source): in the q123 oracle path frozen.bounds/alloc
    // re-derive from the FULL side's chain, and with the tail stages now
    // lazy each would otherwise be re-derived once per accounting
    // consumer (bounds appears in the curriculum, mixture and shards
    // prefixes — 3 full-side decontam re-derivations). runIncremental's
    // loaded-layer frozen frames pay one sub-100 ms job each.
    val bounds = frozen.bounds
      .filter(col("decile") < 10)
      .groupBy("lang").agg(sort_array(collect_list(col("hi"))).as("_bs"))
      .localCheckpoint(true)
    val curriculumDelta = decontamDelta
      .withColumn("_score", TextAnalysis.qualityScore(col("text")))
      .join(broadcast(bounds), Seq("lang"), "left")
      .withColumn("_decile", lit(1) + size(filter(
        coalesce(col("_bs"), array()), x => x < col("_score"))))
      .filter(pmod(Hashes.polyHash(col("doc_id").cast("string")),
        lit(10)) < col("_decile"))
      .drop("_score", "_bs", "_decile")

    // mixture with the frozen epochs (unseen sources: 1.0)
    val alloc = frozen.alloc.select(col("source"), col("epochs").as("_e"))
      .localCheckpoint(true)
    val mixtureDelta = curriculumDelta.join(broadcast(alloc), Seq("source"), "left")
      .withColumn("_e", coalesce(col("_e"), lit(1.0)))
      .withColumn("copy", explode(sequence(lit(1), greatest(
        ceil(col("_e")).cast("int"), lit(1)))))
      .filter(col("copy") <= floor(col("_e")) ||
        (pmod(Hashes.polyHash(concat_ws("#", col("doc_id").cast("string"),
          col("copy").cast("string"))), lit(1000003L)).cast("double") / 1000003.0)
          < col("_e") - floor(col("_e")))
      .drop("_e")

    // Barrier diet (r15): only the EXPENSIVE delta frames checkpoint —
    // exact (banked-norm anti-join), the flagged pair scoring, neardup
    // (incremental index probe) — plus the tiny allBench/bounds/alloc
    // parameter frames above. The five tail stages (quality gate,
    // decontam join, curriculum filter, mixture explode, shard hash) are
    // maps/broadcast-joins over a delta-sized frame; re-deriving them
    // from the neardup checkpoint per accounting consumer costs less
    // than one eager localCheckpoint JOB each (r14 shape: nine barrier
    // jobs ≈ 4.1 s of q123's 9.6 s at sf0.1 for a 50-doc delta — fixed
    // job latency, not data). Every expensive input they touch is
    // already a checkpoint or a broadcast, so nothing full-side is
    // re-derived (the r11 regression this section used to guard
    // against came from the frozen frames, now pinned above).
    (Seq("raw" -> raw, "exact" -> exactDelta, "neardup" -> neardupDelta,
      "quality" -> qualityDelta,
      "decontam" -> decontamDelta,
      "curriculum" -> curriculumDelta,
      "mixture" -> mixtureDelta,
      "shards" -> shardStage(mixtureDelta, cfg)), deltaIdx)
  }
}
