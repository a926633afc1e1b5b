package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-critical physical-plan properties of representative
  * queries: column pruning reaching the parquet scan, broadcast joins for
  * dimension sides, top-k without a global sort, and fused aggregation
  * without an Expand multiplying input rows. A correctness-green query
  * whose plan silently loses one of these would still pass the oracle —
  * these tests make the 100 TB shape itself a regression surface. */
class PlanAssertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(q: String): String =
    SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString

  test("q55 scan reads only the text column; top-20 is TakeOrderedAndProject") {
    val plan = planOf("q55_top_bigrams")
    assert(plan.contains("ReadSchema: struct<text:string>"),
      s"bigram scan must prune to text only:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must not be a global Sort + limit:\n$plan")
  }

  test("q10 unigram scan prunes to text; top-k avoids a global sort") {
    val plan = planOf("q10_top_terms")
    assert(plan.contains("ReadSchema: struct<text:string>"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q12 dimension join broadcasts the small sides") {
    val plan = planOf("q12_region_rollup")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"region/nation dims must broadcast, not shuffle:\n${plan.take(3000)}")
  }

  test("q49 validation counters plan no Expand (no count_distinct blowup)") {
    val plan = planOf("q49_validation_checks")
    assert(!plan.contains("Expand"),
      s"fused counters must not multiply input rows through Expand:\n${plan.take(3000)}")
  }

  test("q01 prunes lineitem to the six aggregated columns") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_returnflag:"),
      s"pricing summary must not read unused lineitem columns:\n${plan.take(3000)}")
  }

  test("q14 pushes join-key null filters into the scans; orders reads one column") {
    val plan = planOf("q14_cust_with_orders")
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey)]"),
      s"semi-join key filter must reach the orders reader:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<o_custkey:bigint>"),
      s"the semi-join side must read ONLY the join key:\n${plan.take(3000)}")
  }

  test("q57 decontamination: map-only sorted-hash probe, no corpus-side join") {
    val plan = planOf("q57_decontamination")
    // r15 shape: the benchmark gram set collapses to ONE sorted-hash-array
    // row and rides a broadcast nested-loop cross onto the corpus scan;
    // the per-doc overlap is the codegen binary-search membership count.
    // The corpus side must carry NO join and NO per-gram shuffle at all —
    // the only exchange left is the final (lang) aggregation.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row bench gram array must broadcast:\n${plan.take(3000)}")
    assert(plan.toLowerCase.contains("sortedmembercount"),
      s"overlap must use the binary-search membership kernel:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"no corpus-side join may remain in the map-only form:\n${plan.take(3000)}")
  }

  test("q60 boilerplate: the boilerplate gram set is broadcast, not shuffled") {
    val plan = planOf("q60_boilerplate")
    assert(plan.contains("BroadcastHashJoin"),
      s"the tiny boilerplate set must broadcast onto the gram stream:\n${plan.take(3000)}")
  }

  test("q61 tfidf plans no Expand and broadcasts the per-lang doc totals") {
    val plan = planOf("q61_tfidf_terms")
    assert(!plan.contains("Expand"),
      s"df must come from distinct+count, not count_distinct Expand:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"lang totals (one row per language) must broadcast:\n${plan.take(3000)}")
  }

  test("q74 latest-per-key partial-aggregates instead of window-sorting all events") {
    val plan = planOf("q74_latest_per_key")
    assert(!plan.contains("Window"),
      s"max_by must replace the window top-1 (partial merge map-side):\n${plan.take(3000)}")
    assert(plan.contains("max_by") || plan.contains("HashAggregate") ||
      plan.contains("SortAggregate") || plan.contains("ObjectHashAggregate"),
      s"expected an aggregate-based plan:\n${plan.take(3000)}")
  }

  test("q80 affinity: per-type tables broadcast; no cartesian in the pair join") {
    val plan = planOf("q80_type_affinity")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"type-count sides must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"pair join must be keyed on (user, session):\n${plan.take(3000)}")
  }

  test("q78 head coverage: ranking window reads the term table, events prune to two columns") {
    val plan = planOf("q78_head_coverage")
    assert(plan.contains("ReadSchema: struct<text:string,lang:string>") ||
      plan.contains("ReadSchema: struct<lang:string,text:string>"),
      s"documents must prune to (lang, text):\n${plan.take(3000)}")
  }

  test("q21 simhash pairs: the banded candidate self-join SHUFFLES on the band key") {
    val plan = planOf("q21_simhash_pairs")
    assert(plan.contains("ShuffledHashJoin"),
      s"a broadcast self-join serializes candidate generation into the scan's " +
        s"partition count and defeats band-key skew spreading:\n${plan.take(3000)}")
  }

  test("q73 edit pairs: the blocked candidate self-join shuffles on the block key") {
    val plan = planOf("q73_edit_pairs")
    assert(plan.contains("ShuffledHashJoin"),
      s"blocked Levenshtein pairs must shuffle on _blk, not broadcast:\n${plan.take(3000)}")
  }

  test("q27 langid: one explode (quarter-sample training side); profile broadcasts") {
    val plan = planOf("q27_langid")
    assert("Generate explode".r.findAllIn(plan).size == 1,
      s"only the sampled TRAINING side may explode ngrams; classification " +
        s"must stay one gram-set row per doc:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("IdentityBroadcastMode"),
      s"the per-language gram profile (langs x 50 grams, bounded) must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in langid justifies a sort-merge shuffle join:\n${plan.take(3000)}")
  }

  test("q52 repetition: every shuffle is doc-keyed (no hot gram reducer); top-10 avoids global sort") {
    val plan = planOf("q52_repetition")
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("doc_id")),
      s"gram aggregations must shuffle on (doc_id, gram), never gram alone:\n$exchanges")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must not be a global Sort + limit:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the per-doc rollups are broadcast-sized; no shuffle join expected:\n${plan.take(3000)}")
  }

  test("q56 ivf search: probed cells dynamically prune the assigned-file partitions") {
    val plan = planOf("q56_knn_ivf")
    assert(plan.contains("dynamicpruningexpression"),
      s"the cell_id partition filter must come from the probed-cell broadcast (DPP), " +
        s"so unprobed cells are never read:\n${plan.take(4000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set joins the corpus as a broadcast on cell_id:\n${plan.take(3000)}")
  }

  test("q124 hnsw search: bounded top-k heap merge, no ranking window, no shuffle join") {
    val plan = planOf("q124_knn_hnsw")
    assert(plan.contains("topk_min"),
      s"the cross-cell merge must be the bounded-heap aggregate (map-side " +
        s"partials cap the shuffle at k rows per query per partition):\n${plan.take(4000)}")
    assert(!plan.contains("Window"),
      s"per-query ranking must never be a window over all candidates:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the graph search has no join at all — candidates come from the " +
        s"per-cell beam walk:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"),
      s"serving must read the RESIDENT cached cell-graph dataset, not " +
        s"re-read parquet per batch:\n${plan.take(3000)}")
  }

  test("q125 hnsw+pq search: resident code-graph serving, bounded heap merge, no join") {
    val plan = planOf("q125_knn_hnsw_pq")
    assert(plan.contains("topk_min"),
      s"the cross-cell merge must be the bounded-heap aggregate:\n${plan.take(4000)}")
    assert(!plan.contains("Window"),
      s"per-query ranking must never be a window over all candidates:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastHashJoin"),
      s"the resident in-cell rerank has no join at all — exact sims come " +
        s"out of the flatMap beside the beam walk:\n${plan.take(3000)}")
    assert(plan.contains("InMemoryTableScan"),
      s"serving must read the RESIDENT cached code-graph dataset, not " +
        s"re-read parquet per batch:\n${plan.take(3000)}")
  }

  test("q64 retention: no Expand; cohort sizes ride along as a broadcast") {
    val plan = planOf("q64_retention")
    assert(!plan.contains("Expand"),
      s"distinct-per-cohort must come from pre-aggregation, not count_distinct Expand:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"cohort sizes (one row per week) must broadcast:\n${plan.take(3000)}")
  }

  test("q72 as-of join: union + single keyed window, no join operator at all") {
    val plan = planOf("q72_asof_join")
    assert(plan.contains("Union") && "Window \\[last".r.findAllIn(plan).size == 1,
      s"the as-of must be one union + one keyed last-value window:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no range/cartesian join may sneak back in:\n${plan.take(3000)}")
  }

  test("q59 mixture weights: totals ride along as a broadcast, no global window") {
    val plan = planOf("q59_domain_mixture")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row totals must broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"no window needed — shares come from the broadcast total:\n${plan.take(3000)}")
  }

  test("q81 group split: split is a pure map — no window, only the broadcast total join") {
    val plan = planOf("q81_group_split")
    assert(!plan.contains("Window"),
      s"split assignment must be computed per row, not via a window:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"the only join is the 1-row broadcast total:\n${plan.take(3000)}")
  }

  test("q82 perplexity: LM totals broadcast; scoring never sorts the corpus") {
    val plan = planOf("q82_perplexity_buckets")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row vocab totals must ride as a broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"per-doc and per-source reductions are aggs, not windows:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>") ||
      plan.contains("ReadSchema: struct<doc_id:bigint,text:string") ,
      s"the documents scan must prune to the scored columns:\n${plan.take(3000)}")
  }

  test("q83 importance weights: top-k is TakeOrdered, not a global sort") {
    val plan = planOf("q83_importance_weights")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-25 selection must not plan a global Sort + limit:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"doc scores reduce by agg, not a window:\n${plan.take(3000)}")
  }

  test("q84 truncation audit: per-source caps broadcast back onto the lengths") {
    val plan = planOf("q84_truncation_audit")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 20-row caps frame must broadcast, never shuffle the lengths:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"the percentile is an agg over sources, not a window:\n${plan.take(3000)}")
  }

  test("q88 embed decontam: eval side broadcasts; no corpus shuffle join; no window") {
    val plan = planOf("q88_embed_decontam")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the bounded eval set must broadcast onto the corpus scan:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus itself must never shuffle into the pair join:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"the per-vector argmax is a min(struct) agg, not a rank window:\n${plan.take(3000)}")
  }

  test("q89 heavy hitters: no token explode, no token-stream shuffle; top-k is TakeOrdered") {
    val plan = planOf("q89_heavy_hitters")
    assert(!plan.contains("Generate explode"),
      s"the sketch must fold tokens inside mapPartitions — an explode means " +
        s"the token stream became a corpus-sized frame again:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must not be a global Sort + limit:\n${plan.take(3000)}")
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      s"exactly one shuffle (the bounded sketch-merge agg) is allowed:\n${plan.take(3000)}")
  }

  test("q90 psi drift: totals broadcast onto the bins-sized grid; no window; events scan pruned") {
    val plan = planOf("q90_psi_drift")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-type totals (types-sized) must broadcast onto the grid:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"PSI is an agg over the bounded grid, never a window:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,event_type:string,value:double>"),
      s"the events scan must prune to the three used columns:\n${plan.take(3000)}")
  }

  test("q91 weighted sample: map-only + TakeOrdered — no shuffle, no window, no join") {
    val plan = planOf("q91_weighted_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k winners must come from TakeOrdered, not a global sort:\n${plan.take(3000)}")
    assert(!plan.contains("Exchange hashpartitioning") && !plan.contains("Window"),
      s"the ES key is a pure row function — nothing may shuffle:\n${plan.take(3000)}")
  }

  test("q92 repeated spans: two-phase dup-gram set, no gram-keyed window sort") {
    val plan = planOf("q92_repeated_spans")
    assert(!"windowspecdefinition\\(g#".r.findFirstIn(plan).isDefined,
      s"a count window partitioned on the gram key sends every occurrence of a " +
        s"hot boilerplate gram to ONE task's sort — the straggler the two-phase " +
        s"formulation exists to avoid:\n${plan.take(3000)}")
    assert("HashAggregate\\(keys=\\[g#\\d+L\\], functions=\\[partial_count".r
      .findFirstIn(plan).isDefined,
      s"gram counts must partial-fold map-side before the gram shuffle:\n${plan.take(3000)}")
    assert(plan.contains("LeftSemi"),
      s"the positional stream must PROBE the dup-gram set (semi-join), never " +
        s"join counts back:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in the span pipeline justifies a sort-merge join:\n${plan.take(3000)}")
  }

  test("q93 temperature mixing: one source agg; totals broadcast; no window, no shuffle join") {
    val plan = planOf("q93_temp_mixture")
    assert(plan.contains("ReadSchema: struct<source:string>"),
      s"mixture weights need ONLY the source column:\n${plan.take(3000)}")
    assert(plan.contains("IdentityBroadcastMode"),
      s"the 1-row corpus totals must ride along as a broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"source shares are agg + broadcast-total division — no window or shuffle " +
        s"join belongs here:\n${plan.take(3000)}")
  }

  test("q94 source overlap: gram self-join SHUFFLES on the gram key; checkpoint reused") {
    val plan = planOf("q94_source_overlap")
    assert("ShuffledHashJoin \\[g#\\d+L?\\], \\[g#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"the (source, gram) self-join must shuffle on g — a stats-driven broadcast " +
        s"serializes candidate generation into the scan's partition count (the r6 " +
        s"SimHash incident):\n${plan.take(3000)}")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"the distinct (source, gram) set is checkpointed once and read three times " +
        s"(per-source counts x2 + the pair join); recomputing it triples the gram " +
        s"explode:\n${plan.take(3000)}")
  }

  test("q95 contamination spans: eval gram set broadcasts; corpus stream never shuffles on g") {
    val plan = planOf("q95_contam_spans")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"the eval-set grams (benchmark-bounded) must broadcast onto the corpus " +
        s"positional stream as a semi-join:\n${plan.take(3000)}")
    val gramExchanges = "Exchange hashpartitioning\\(g#\\d+L".r.findAllIn(plan).size
    assert(gramExchanges <= 1,
      s"only the eval side's distinct may shuffle on the gram key; the corpus " +
        s"pass must stay effectively map-only (got $gramExchanges gram " +
        s"exchanges):\n${plan.take(3000)}")
  }

  test("q96 nb classifier: scoring join is token-KEYED with the vocab model as build side") {
    val plan = planOf("q96_nb_quality")
    assert("ShuffledHashJoin \\[tok#\\d+\\], \\[tok#\\d+\\], Inner, BuildRight".r
      .findFirstIn(plan).isDefined,
      s"the scoring join must shuffle on tok and build the vocab-bounded model " +
        s"table — left to stats, small inputs broadcast the exploded corpus " +
        s"token stream, which is backwards at scale:\n${plan.take(4000)}")
    assert(plan.contains("IdentityBroadcastMode"),
      s"the 1-row prior (and the vocab totals) must broadcast:\n${plan.take(3000)}")
  }

  test("q97 hard negatives: query side broadcasts; top-k is the bounded-heap aggregate") {
    val plan = planOf("q97_hard_negatives")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the bounded query set rides into the top-k kernel with the label " +
        s"predicate inside its loop, not a nested-loop join:\n${plan.take(3000)}")
    assert(plan.contains("topk_min"),
      s"per-query top-k must run through the bounded-heap aggregate, not a " +
        s"ranking window:\n${plan.take(3000)}")
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("query_id")),
      s"the corpus must never shuffle — only the k-bounded per-query partials " +
        s"may exchange:\n$exchanges")
  }

  test("q98 normalized dedup: map-only normalize+hash, keyed aggs, no join, no window") {
    val plan = planOf("q98_norm_dedup")
    assert(plan.contains("ReadSchema: struct<text:string,source:string>"),
      s"the audit needs only (text, source):\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"normalize + xxhash64 + two keyed aggs — nothing may join or " +
        s"window:\n${plan.take(3000)}")
    assert(plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .forall(_.contains("source#")),
      s"both aggregation shuffles are source-keyed (the wide text never " +
        s"shuffles — only its 64-bit hash):\n${plan.take(3000)}")
  }

  test("q99 threshold sweep: pair pipeline materializes ONCE; sweep is conditional sums, no window") {
    val plan = planOf("q99_threshold_sweep")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 2,
      s"the checkpointed pair set must feed both the pair sums and the " +
        s"doc-max branch — without it the whole minhash candidate+verify " +
        s"pipeline executes twice:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"the curve is conditional aggregation, never a per-threshold " +
        s"window or explode of the pair stream:\n${plan.take(3000)}")
    assert(plan.contains("IdentityBroadcastMode"),
      s"the 1-row doc-max counts ride along as a broadcast:\n${plan.take(3000)}")
  }

  test("q100 balanced sample: per-class selection is the bounded heap, not a window sort") {
    val plan = planOf("q100_balanced_sample")
    assert(plan.contains("topk_min") && plan.contains("partial_topk_min"),
      s"per-class selection must partial-fold map-side through the " +
        s"bounded-heap aggregate (<= cap rows per class per partition on " +
        s"the shuffle):\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"a row_number window would sort every giant class in one " +
        s"task:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"the selection scan must prune to (doc_id, source):\n${plan.take(3000)}")
  }

  test("q102 bucket audit: band-keyed count then bands-row rollup; no join, no window") {
    val plan = planOf("q102_lsh_bucket_audit")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"the audit is two aggregations — the bucket-size count and the " +
        s"per-band rollup — never a self-join of the band stream:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"the bucket-size count must map-side combine (distinct band keys " +
        s"per mapper on the shuffle, not the full band stream):\n${plan.take(3000)}")
  }

  test("q103 pre-collapse: capped banded self-join SHUFFLES on the band key; cap probe is a semi-join") {
    val plan = planOf("q103_precollapse_neardup")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("band_key"),
      s"candidate generation must shuffle on the banding key (broadcast " +
        s"would serialize into the scan's partition count):\n${plan.take(4000)}")
    assert(plan.contains("LeftSemi"),
      s"the bucket cap must probe as a left-semi join against the " +
        s"size-filtered bucket list:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no unkeyed pair blowup anywhere in the expansion:\n${plan.take(4000)}")
  }

  test("q105 incremental dedup: band-keyed shuffles only; the cap probe semi join never broadcasts") {
    val plan = planOf("q105_incremental_dedup")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("band_key"),
      s"delta-vs-all candidate generation must shuffle on the banding " +
        s"key:\n${plan.take(4000)}")
    assert(plan.linesIterator.filter(_.contains("LeftSemi"))
      .forall(_.contains("ShuffledHashJoin")),
      s"the under-cap bucket list is corpus-sized at scale — its semi " +
        s"probe must be a shuffled join, never a broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no unkeyed pair blowup anywhere:\n${plan.take(4000)}")
  }

  test("q101 zipf audit: ranking runs on the vocab table with a PARTIAL group limit") {
    val plan = planOf("q101_zipf_audit")
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
      s"the rank<=topK filter must push a map-side per-source group limit " +
        s"below the exchange, so the vocab shuffle carries <= topK rows per " +
        s"source per partition:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(source#\\d+, tok#\\d+".r.findFirstIn(plan).isDefined,
      s"the only corpus-sized shuffle is the (source, token) count:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      s"the regression reduces in closed form — no join belongs " +
        s"here:\n${plan.take(3000)}")
  }

  test("q108 best-dedup: argmax is a struct-max aggregate, losers anti-join; no window sort") {
    val plan = planOf("q108_best_dedup")
    assert(!plan.contains("Window"),
      s"the per-cluster winner must come from max(struct(score,-id)) with " +
        s"map-side partials — a row_number window would sort every " +
        s"cluster's members in one task:\n${plan.take(4000)}")
    assert(plan.contains("LeftAnti"),
      s"the corpus pays one anti-join against the loser sliver:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"no unkeyed pair blowup anywhere:\n${plan.take(4000)}")
  }

  test("q109 split leakage: gram probe is a shuffled semi join; distinct sets fold map-side") {
    val plan = planOf("q109_split_leakage")
    assert(plan.linesIterator.filter(_.contains("LeftSemi"))
      .forall(_.contains("ShuffledHashJoin")),
      s"train grams are corpus-sized — the heldout probe must shuffle on " +
        s"the gram key, never broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"the audit is keyed aggregation + one semi join only:\n${plan.take(4000)}")
    // three scans, each pruned to what its branch needs: the train gram
    // side drops source entirely, the held-doc count drops the text
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"the train-gram scan must prune source away:\n${plan.take(4000)}")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      s"the held-doc count must never read the text column:\n${plan.take(4000)}")
  }

  test("q110 shard audit: map-only assignment, one shard-keyed agg, no join") {
    val plan = planOf("q110_shard_audit")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"assignment is a pure function of the id — nothing to join or " +
        s"sort:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(shard#\\d+".r.findFirstIn(plan).isDefined,
      s"the only shuffle is the shard-keyed aggregation:\n${plan.take(3000)}")
    assert(plan.contains("partial_count") || plan.contains("Partial"),
      s"token mass must reduce map-side (the wide text never " +
        s"shuffles):\n${plan.take(3000)}")
  }

  test("q112 collapsed pairs: expansion joins broadcast the k-row top; no cartesian") {
    val plan = planOf("q112_collapsed_pairs")
    // the only nested-loop join allowed is the blocked core's B×B block
    // pairing (bounded by nBlocks, not by data — q23 plans the same)
    assert(!plan.contains("CartesianProduct"),
      s"the collapsed path must never plan an all-pairs row join — the " +
        s"n²·d work lives inside the blocked kernel, on representatives " +
        s"only:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both membership-expansion joins must broadcast the <= k-row " +
        s"rep-pair side (group membership never shuffles for " +
        s"expansion):\n${plan.take(3000)}")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"the value-grouped frame must be checkpointed ONCE and feed the " +
        s"rep kernel, both expansion joins, and the within-group " +
        s"generator — without it the corpus-sized groupBy executes four " +
        s"times:\n${plan.take(3000)}")
  }

  test("q113 collapsed jaccard: expansion joins broadcast the k-row top; no cartesian") {
    val plan = planOf("q113_collapsed_jaccard")
    assert(!plan.contains("CartesianProduct"),
      s"the collapsed path must never plan an all-pairs row join — the " +
        s"intersection work lives inside the blocked kernel, on distinct " +
        s"encodings only:\n${plan.take(3000)}")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both membership-expansion joins must broadcast the <= k-row " +
        s"rep-pair side (group membership never shuffles for " +
        s"expansion):\n${plan.take(3000)}")
    assert("Scan ExistingRDD".r.findAllIn(plan).size >= 3,
      s"the encoding-grouped frame must be checkpointed ONCE and feed " +
        s"the rep kernel, both expansion joins, and the within-group " +
        s"generator:\n${plan.take(3000)}")
  }

  test("q114 bigram LM: scoring join is hashed, not sort-merge; no window; text-only scans") {
    val plan = planOf("q114_bigram_perplexity")
    assert(plan.contains("ShuffledHashJoin"),
      s"the corpus-sized bigram stream joins the vocab-sized LM on the " +
        s"gram key — sort-merge would sort the corpus stream for a join " +
        s"hashing serves in one pass:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"bigrams explode map-only from the token array (the X25 device) — " +
        s"a lead() window would doc-sort the whole corpus:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the vocabulary total must ride as a 1-row broadcast:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string,text:string>") ||
      plan.contains("ReadSchema: struct<text:string>"),
      s"scans must prune to the consumed columns:\n${plan.take(3000)}")
  }

  test("q115 fertility: map-only measures, single source-keyed agg, no join/window/explode") {
    val plan = planOf("q115_fertility")
    assert(!plan.contains("Join") && !plan.contains("Window") &&
      !plan.contains("Generate"),
      s"every per-doc measure is a scalar expression — nothing may fan " +
        s"out or join:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(source#\\d+".r.findFirstIn(plan).isDefined,
      s"the only shuffle is the source-keyed agg:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<source:string,text:string>") ||
      plan.contains("ReadSchema: struct<text:string,source:string>"),
      s"the scan must prune to (source, text):\n${plan.take(3000)}")
  }

  test("q116 char entropy: histogram is map-only (no per-char explode), single agg") {
    val plan = planOf("q116_char_entropy")
    assert(!plan.contains("Generate"),
      s"the codepoint histogram is one codegen pass per row — a " +
        s"per-character explode would fan the corpus out |text|-fold:\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"entropy folds per row; the per-source summary is one agg:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(source#\\d+".r.findFirstIn(plan).isDefined,
      s"the only shuffle is the source-keyed agg:\n${plan.take(3000)}")
  }

  test("q117 token divergence: hashed vocab join, corpus total broadcasts, one corpus-sized shuffle") {
    val plan = planOf("q117_token_divergence")
    assert(plan.contains("ShuffledHashJoin"),
      s"the vocab-keyed scoring join must hash, not sort-merge:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row corpus total must ride as a broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"everything reduces through aggregates:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(source#\\d+, tok#\\d+".r.findFirstIn(plan).isDefined,
      s"the one corpus-sized shuffle is the (source, token) count:\n${plan.take(3000)}")
  }

  test("q118 chunk stitch: counts never pairs — no explode, bounded top-N, no cartesian") {
    val plan = planOf("q118_chunk_stitch")
    assert(!plan.contains("Generate"),
      s"head/tail keys are token slices, map-only:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"the stitch count is arithmetic on aggregated key tables:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be a bounded heap, not a global sort:\n${plan.take(3000)}")
  }

  test("q119 length divergence: CDFs are conditional sums; corpus row broadcasts; pruned scan") {
    val plan = planOf("q119_length_divergence")
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"),
      s"the 1-row corpus CDF must broadcast; the KS max is closed form:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<source:string,n_chars:bigint>") ||
      plan.contains("ReadSchema: struct<n_chars:bigint,source:string>"),
      s"the scan must prune to (source, n_chars):\n${plan.take(3000)}")
  }

  test("q120 dup families: two aggs, no pairs — no explode, no join, text-pruned scan") {
    val plan = planOf("q120_dup_families")
    assert(!plan.contains("Generate") && !plan.contains("Join") &&
      !plan.contains("Window") && !plan.contains("CartesianProduct"),
      s"family stats are two grouped aggs, nothing fans out or pairs:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<text:string>"),
      s"the scan must prune to text only:\n${plan.take(3000)}")
  }

  test("q121 gopher rules: every rule folds map-side — no explode, one source-keyed shuffle") {
    val plan = planOf("q121_gopher_rules")
    assert(!plan.contains("Generate"),
      s"rule arithmetic folds over the token array in place — a token " +
        s"explode would fan the corpus out ntok-fold:\n${plan.take(3000)}")
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"booleans reduce as conditional sums in ONE agg:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning\\(source#\\d+".r.findFirstIn(plan).isDefined,
      s"the only shuffle is the source-keyed agg:\n${plan.take(3000)}")
    assert(plan.contains("ReadSchema: struct<text:string,source:string>") ||
      plan.contains("ReadSchema: struct<source:string,text:string>"),
      s"the scan must prune to (source, text):\n${plan.take(3000)}")
  }

  test("q122 curate pipeline: no cartesian anywhere in the composed chain") {
    // inspect the UNmaterialized composition (the query itself runs with
    // per-stage checkpoints, which would hide upstream operators from
    // the final frame's executedPlan)
    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val plan = graft.pipeline.CuratePipeline.accounting(
      graft.pipeline.CuratePipeline.stages(raw,
        graft.pipeline.CurateConfig(), materialize = false))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the composed chain must never form an unkeyed pair join:\n${plan.take(4000)}")
    // the benchmark gram set and the per-source UniMax allocation ride as
    // broadcasts — the corpus side must never shuffle FOR them
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"bench grams / allocation must broadcast:\n${plan.take(4000)}")
  }
}
